package graft.operators

import graft.expressions.CosineSim
import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Similarity search over embedding columns (`array<float>`), the
  * BASELINE.json "similarity search" north-star generalizing the
  * reference's cosine top-k retrieval (RAG/rag.ipynb:488-530).
  *
  * Scale design:
  *  - Single query: `orderBy(sim desc).limit(k)` — Catalyst plans
  *    TakeOrderedAndProject (per-partition partial top-k, tiny driver
  *    merge). One scan, no shuffle of the corpus.
  *  - Query batch: broadcast the queries, one scan of the corpus, window
  *    row_number per query. The shuffle is by query_id — skew-safe while
  *    the batch is small; for huge batches repartition by (query_id, salt)
  *    and re-reduce.
  *  - Near-dup pairs: random-hyperplane (cosine) LSH. Buckets from sign
  *    bits of dot(v, rₚ) over md5-derived deterministic hyperplanes,
  *    banded so that near pairs collide in ≥1 band w.h.p.; exact cosine
  *    confirm inside buckets. Candidate work scales with bucket sizes,
  *    not n². Hyperplanes are precomputed driver-side and embedded as
  *    literals — deterministic, engine-independent, oracle-recomputable.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane components in [-1, 1):
    * component (p, i) derives from md5("p:i") (first 6 hex digits /
    * 16⁶, scaled). Pure Scala — same numbers in any engine.
    */
  def hyperplanes(numPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until numPlanes).map { p =>
      (0 until dim).map { i =>
        val hex = md.synchronized {
          md.reset()
          md.digest(s"$p:$i".getBytes("UTF-8")).take(3).map("%02x".format(_)).mkString
        }
        java.lang.Long.parseLong(hex, 16).toDouble / 16777216.0 * 2.0 - 1.0
      }
    }
  }

  /** dot(vec, plane) for a literal plane. */
  private def dotLit(vec: Column, plane: Seq[Double]): Column =
    aggregate(
      zip_with(vec, typedLit(plane), (x, y) => x.cast("double") * y),
      lit(0.0), (acc, x) => acc + x)

  /** Band keys: `numPlanes` sign bits grouped into bands of `bandBits`,
    * each band encoded as struct(band, key∈[0, 2^bandBits)). Vectors agree
    * on a band ⇒ candidate pair.
    */
  def lshBandKeys(vec: Column, planes: Seq[Seq[Double]], bandBits: Int): Column = {
    val bits = planes.map(p => when(dotLit(vec, p) >= 0, 1).otherwise(0))
    val bands = bits.grouped(bandBits).toSeq
    array(bands.zipWithIndex.map { case (bs, b) =>
      val key = bs.zipWithIndex.map { case (bit, j) => bit * (1 << j) }
        .reduce[Column](_ + _)
      struct(lit(b).as("band"), key.as("key"))
    }: _*)
  }

  /** All pairs (id_a < id_b) with exact cosine ≥ threshold, found via
    * hyperplane-LSH candidate generation (approximate recall: a pair is
    * found iff the two vectors agree on at least one full band).
    */
  def nearDupPairsLsh(df: DataFrame, id: Column, vec: Column,
                      threshold: Double, dim: Int,
                      numPlanes: Int = 16, bandBits: Int = 4): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val vecs = df.select(id.as("id"), vec.as("v"))
    val keyed = vecs.select(col("id"),
      explode(lshBandKeys(col("v"), planes, bandBits)).as("bk"))
    // candidate dedup moves bare (id, id) pairs; the vectors re-attach
    // afterwards (AQE broadcasts the vector side while it fits) so the
    // wide float arrays never ride the distinct shuffle.
    val cands = keyed.as("a")
      .join(keyed.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cosine", CosineSim(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Exact O(n²) baseline for [[nearDupPairsLsh]] — correctness anchor for
    * tests and small corpora.
    */
  def nearDupPairsExact(df: DataFrame, id: Column, vec: Column,
                        threshold: Double): DataFrame = {
    val l = df.select(id.as("id_a"), vec.as("va"))
    val r = df.select(id.as("id_b"), vec.as("vb"))
    l.join(r, col("id_a") < col("id_b"))
      .withColumn("cosine", CosineSim(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** IVF-style ANN: corpus vectors partition into inverted lists by
    * nearest centroid (argmax cosine, ties → lowest centroid id); a
    * query probes its `nprobe` nearest centroids and ranks only those
    * lists. Search cost drops from |corpus| to ~|corpus|·nprobe/C per
    * query — the standard recall/cost dial (nprobe = C degenerates to
    * brute force). Centroids come from the caller (k-means exercise, or
    * any deterministic seed set); assignment and probing are pure
    * DataFrame ops, so the whole index is a (doc_id, centroid_id) table
    * that persists as parquet and co-partitions with the corpus.
    */
  def ivfTopK(docs: DataFrame, docId: Column, docVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              centroids: DataFrame, centroidId: Column, centroidVec: Column,
              k: Int, nprobe: Int): DataFrame = {
    // The centroid set is tiny by construction (C ≪ corpus), so pull it
    // into the plan as literals: nearest-centroid assignment is then ONE
    // shuffle-free codegen'd projection over the corpus — no crossJoin
    // row blowup, no per-doc-id window (which would shuffle the whole
    // corpus just to pick an argmax).
    // cast the vector too: a double-typed centroid column (e.g. straight
    // from kmeansCentroids' Seq[(Long, Seq[Double])]) would otherwise
    // ClassCastException inside getSeq[Float]/literal encoding.
    val cents = centroids
      .select(centroidId.cast("long").as("cid"),
        centroidVec.cast("array<float>").as("cv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "ivfTopK needs at least one centroid")
    val d = docs.select(docId.as("doc_id"), docVec.as("dv"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
    // argmax cosine with ties → lowest cid = lexicographic max over
    // struct(cos, -cid); each cosine is evaluated exactly once.
    val assignStructs = cents.map { case (cid, cv) =>
      struct(CosineSim(col("dv"), typedLit(cv)).as("cos"),
        lit(-cid).as("ncid"))
    }
    val assign = d
      .withColumn("best", array_max(array(assignStructs: _*)))
      .select(col("doc_id"), col("dv"), (-col("best.ncid")).as("cid"))
    // Probe list per query: ascending sort of struct(-cos, cid) puts the
    // nearest centroids (ties → lowest cid) first; slice takes nprobe.
    val probeStructs = cents.map { case (cid, cv) =>
      struct((-CosineSim(col("qv"), typedLit(cv))).as("negcos"),
        lit(cid).as("cid"))
    }
    val probes = q
      .withColumn("pc",
        explode(slice(array_sort(array(probeStructs: _*)), 1, nprobe)))
      .select(col("query_id"), col("qv"), col("pc.cid").as("cid"))
    // probes ≪ assign: AQE broadcasts the probe side, so the corpus is
    // scanned once and never shuffled before the per-query rank.
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    probes.join(assign, "cid")
      .withColumn("cosine", CosineSim(col("dv"), col("qv")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("cosine"), col("rank"))
  }

  /** Deterministic Lloyd k-means over an embedding column, producing the
    * centroid set [[ivfTopK]] consumes. Engine-independent by
    * construction, so a SQL oracle can replicate it exactly:
    * init = the k smallest-id vectors (cid in id order); assignment =
    * cosine argmax with ties → lowest cid (same rule as ivfTopK);
    * update = per-dimension mean; every centroid component rounds
    * floor-stable to 6 decimals after each step, which absorbs the
    * 1-ulp noise of distributed summation order before it can flip an
    * assignment. Empty clusters keep their previous centroid.
    *
    * Scale shape: assignment is the same shuffle-free literal-fold
    * projection as ivfTopK; the update is one partial-aggregated
    * groupBy over (cid, dim) — k·dims rows collect to the driver per
    * iteration (centroids are tiny by contract).
    */
  def kmeansCentroids(df: DataFrame, id: Column, vec: Column, k: Int,
                      iters: Int): Seq[(Long, Seq[Double])] = {
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // cast once so any numeric vector type (float or double) works and
    // the seed rows collect as doubles
    // NO partition spread here (r17 A/B revert of the r16 repartition):
    // d10's loaded-window A/B measured the spread arm at 5.6-7.6 s vs
    // 3.4-3.5 s without, with executor runMs inflated 15× (50 s vs
    // 3.4 s for the same answer) — the literal-fold assignment's
    // per-task constant (codegen'd struct-array fold setup) dwarfs the
    // ~60-row slices a spread hands each task at these input sizes,
    // and an already-parallel 100 TB source never needed the exchange.
    // pqCodebooks keeps its spread: its per-iteration fused m-subspace
    // pass is heavy enough to win (v18/v20 improved at the r16 driver).
    val d = df.select(id.cast("long").as("id"),
        vec.cast("array<double>").as("v"))
      .localCheckpoint(eager = false)
    var cents: Seq[(Long, Seq[Double])] =
      d.orderBy(col("id")).limit(k).collect().zipWithIndex.map {
        case (row, i) =>
          (i.toLong, row.getSeq[Double](1).map(r6).toSeq)
      }.toSeq
    require(cents.size == k, s"need at least $k vectors to seed k-means")
    for (_ <- 1 to iters) {
      val means = d
        .withColumn("cid",
          (-centroidArgmax(col("v"), cents).getField("ncid")).cast("long"))
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .collect()
        .groupBy(_.getLong(0))
      cents = cents.map { case (cid, old) =>
        means.get(cid) match {
          case Some(rows) =>
            (cid, rows.sortBy(_.getInt(1)).map(r => r6(r.getDouble(2))).toSeq)
          case None => (cid, old)
        }
      }
    }
    cents
  }

  /** Cosine argmax over a literal centroid set as one shuffle-free
    * projection: struct(cos, -cid) max picks the highest cosine with
    * ties → lowest centroid id. The negated-cid tie rule is the
    * oracle-critical invariant shared by k-means assignment and the v8
    * rollup — keep every caller on this one definition.
    */
  def centroidArgmax(vec: Column, cents: Seq[(Long, Seq[Double])]): Column =
    array_max(array(cents.map { case (cid, cv) =>
      struct(VF.cosine(vec, typedLit(cv)).as("cos"), lit(-cid).as("ncid"))
    }: _*))

  /** Semantic dedup (the SemDeDup shape — Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest centroid via
    * the same shuffle-free literal-fold [[centroidArgmax]] as
    * ivfTopK/k-means, then emit exact-cosine near-dup pairs ONLY within
    * each cluster — candidate work drops from n² to Σ|cluster|², and
    * the per-cluster self-join shuffles both sides by `cid` so pairs
    * form co-partitioned. Precision is exact (every emitted pair passes
    * the true cosine filter); recall misses only pairs whose members
    * straddle a centroid boundary — the standard SemDeDup trade, dialed
    * by k. At corpus scale k is large (10⁴-10⁵), so each cluster is a
    * small co-resident block; tiny k on a huge corpus would skew the
    * cid shuffle.
    *
    * A bare `cid` equi-join would cap parallelism at k (and skew on hot
    * clusters), so the left side salts on hash(id_a) and the right side
    * replicates `saltBuckets` ways: the join key becomes (cid, salt),
    * k·saltBuckets-way parallel, each pair produced exactly once (by
    * its id_a's salt). Replication multiplies the right-side shuffle by
    * saltBuckets — the standard, bounded skew-salting trade.
    *
    * Output: cid, id_a, id_b (id_a < id_b), cosine.
    */
  def semanticDupPairs(df: DataFrame, id: Column, vec: Column,
                       cents: Seq[(Long, Seq[Double])],
                       threshold: Double, saltBuckets: Int = 8): DataFrame = {
    val assigned = df.select(id.as("id"), vec.as("v"))
      .withColumn("cid",
        (-centroidArgmax(col("v"), cents).getField("ncid")).cast("long"))
    val a = assigned
      .select(col("cid"), col("id").as("id_a"), col("v").as("va"),
        pmod(hash(col("id")), lit(saltBuckets)).as("salt"))
    val b = assigned
      .select(col("cid"), col("id").as("id_b"), col("v").as("vb"),
        explode(sequence(lit(0), lit(saltBuckets - 1))).as("salt"))
    a.join(b, Seq("cid", "salt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", CosineSim(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("cid"), col("id_a"), col("id_b"), col("cosine"))
  }

  /** Brute-force cosine top-k per query: broadcast the query batch, scan
    * the corpus once, rank per query. Ties broken by doc id (ascending)
    * for determinism.
    * Input contracts: docs(docId, vec), queries(queryId, qvec).
    */
  def topKPerQuery(docs: DataFrame, docId: Column, docVec: Column,
                   queries: DataFrame, queryId: Column, queryVec: Column,
                   k: Int): DataFrame = {
    val d = docs.select(docId.as("doc_id"), docVec.as("dv"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    d.crossJoin(broadcast(q))
      .withColumn("cosine", CosineSim(col("dv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("cosine"), col("rank"))
  }

  /** Int8 scalar-quantized top-k with exact rerank — the memory-bandwidth
    * scale path. Candidate scoring runs on symmetric int8 codes (the
    * per-vector scales cancel in cosine, so the approximate score is
    * Σqₐ·q_b / (‖qₐ‖·‖q_b‖) over integers — no dequantization); the top
    * `rerank` candidates per query re-score with exact float cosine and
    * the final top `k` returns. At 100 TB the codes live as their own 4×
    * smaller column (built once at ingest, as here at a select
    * boundary), so candidate generation streams a quarter of the bytes
    * and the exact path touches only `rerank` rows per query.
    *
    * Output: query_id, doc_id, cosine (exact), approx_cosine, rank —
    * deterministic (both ranks tie-break by doc id).
    */
  def quantizedTopK(docs: DataFrame, docId: Column, docVec: Column,
                    queries: DataFrame, queryId: Column, queryVec: Column,
                    k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, "rerank depth must cover the final k")
    def coded(df: DataFrame, id: Column, vec: Column,
              idName: String, vecName: String): DataFrame =
      df.select(id.as(idName), vec.as(vecName),
          VF.int8Scale(vec).as("__sc"))
        .select(col(idName), col(vecName),
          VF.int8Codes(col(vecName), col("__sc")).as("__code"))
        .select(col(idName), col(vecName), col("__code"),
          sqrt(VF.intDot(col("__code"), col("__code")).cast("double"))
            .as("__cnorm"))
    val d = coded(docs, docId, docVec, "doc_id", "dv")
    val q = coded(queries, queryId, queryVec, "query_id", "qv")
      .withColumnRenamed("__code", "__qcode")
      .withColumnRenamed("__cnorm", "__qnorm")
    val denom = col("__cnorm") * col("__qnorm")
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cosine").desc, col("doc_id"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    d.crossJoin(broadcast(q))
      .withColumn("approx_cosine",
        when(denom > 0,
          VF.intDot(col("__code"), col("__qcode")).cast("double") / denom))
      .withColumn("__arank", row_number().over(wApprox))
      .filter(col("__arank") <= rerank)
      .withColumn("cosine", CosineSim(col("dv"), col("qv")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("cosine"),
        col("approx_cosine"), col("rank"))
  }

  /** Binary (1-bit sign) quantized top-k with exact rerank — the step
    * past [[quantizedTopK]]'s int8 codes on the memory axis: one BIT
    * per dimension (32× smaller than float32), candidate ranking by
    * Hamming distance over packed words (xor + popcount — pure integer
    * bit ops, the cheapest candidate scan there is). For vectors in
    * general position the sign pattern preserves angular order in
    * expectation (the SimHash/hyperplane-LSH identity: P[sign differs]
    * = θ/π per random direction; here the directions are the coordinate
    * axes), so a `rerank`-deep Hamming cut recalls the true top-k and
    * the exact cosine pass orders the final `k`. At 100 TB the packed
    * codes live as their own dim/32-long column built once at ingest;
    * candidate generation streams 1/32nd of the vector bytes and the
    * float path touches only `rerank` rows per query.
    *
    * Output: query_id, doc_id, cosine (exact), hamming, rank —
    * deterministic (Hamming ties and cosine ties both break by doc id).
    */
  def binaryTopK(docs: DataFrame, docId: Column, docVec: Column,
                 queries: DataFrame, queryId: Column, queryVec: Column,
                 k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, "rerank depth must cover the final k")
    val d = docs.select(docId.as("doc_id"), docVec.as("dv"))
      .select(col("doc_id"), col("dv"), VF.signBits(col("dv")).as("__bits"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
      .select(col("query_id"), col("qv"),
        VF.signBits(col("qv")).as("__qbits"))
    val wHam = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("doc_id"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    d.crossJoin(broadcast(q))
      .withColumn("hamming", VF.hammingDistance(col("__bits"), col("__qbits")))
      .withColumn("__arank", row_number().over(wHam))
      .filter(col("__arank") <= rerank)
      .withColumn("cosine", CosineSim(col("dv"), col("qv")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("cosine"),
        col("hamming"), col("rank"))
  }

  /** Matryoshka two-stage ANN (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): MRL-trained embeddings concentrate
    * meaning in their leading coordinates, so candidate generation
    * scores cosine over only the first `prefixDim` dimensions and the
    * top `rerank` per query re-score with the full vector. The
    * dimension-sliced cousin of [[quantizedTopK]] (bit-depth) and
    * [[binaryTopK]] (sign bits): at 100 TB the prefix lives as its own
    * column (built once at ingest, as here at a select boundary), so
    * candidate scoring streams prefixDim/dim of the bytes and the full
    * vectors hydrate for only `rerank` rows per query.
    *
    * Output: query_id, doc_id, cosine (exact full-dim), approx_cosine
    * (prefix), rank — deterministic (both ranks tie-break by doc id).
    */
  def matryoshkaTopK(docs: DataFrame, docId: Column, docVec: Column,
                     queries: DataFrame, queryId: Column, queryVec: Column,
                     k: Int, rerank: Int, prefixDim: Int): DataFrame = {
    require(rerank >= k, "rerank depth must cover the final k")
    require(prefixDim >= 1, "matryoshkaTopK needs a non-empty prefix")
    val d = docs.select(docId.as("doc_id"), docVec.as("dv"))
      .select(col("doc_id"), col("dv"),
        slice(col("dv"), 1, prefixDim).as("__dp"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
      .select(col("query_id"), col("qv"),
        slice(col("qv"), 1, prefixDim).as("__qp"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cosine").desc, col("doc_id"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    d.crossJoin(broadcast(q))
      .withColumn("approx_cosine", CosineSim(col("__dp"), col("__qp")))
      .withColumn("__arank", row_number().over(wApprox))
      .filter(col("__arank") <= rerank)
      .withColumn("cosine", CosineSim(col("dv"), col("qv")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("cosine"),
        col("approx_cosine"), col("rank"))
  }

  /** Product-quantization codebooks for cosine ANN (Jégou et al. 2011,
    * "Product Quantization for Nearest Neighbor Search" — the memory
    * path past [[quantizedTopK]]'s int8 scalar codes: m small codes per
    * vector instead of dim bytes, so a shard's whole candidate set
    * stays cache-resident at corpus scale). The vector splits into `m`
    * contiguous `subDim`-wide subspaces; each subspace trains its own
    * deterministic k-means over the sliced sub-vectors — the same
    * smallest-id seed, cosine-argmax assignment (pinned tie rule) and
    * floor-stable 6-decimal centroid rounding as [[kmeansCentroids]],
    * so a SQL oracle replays every codebook exactly. One codebook per
    * subspace, in subspace order.
    */
  def pqCodebooks(df: DataFrame, id: Column, vec: Column, m: Int,
                  subDim: Int, k: Int, iters: Int)
      : Seq[Seq[(Long, Seq[Double])]] = {
    // ALL m subspaces train in ONE job per iteration (r16): the m
    // per-subspace k-means are independent, so running them as m
    // sequential kmeansCentroids loops paid m·iters driver round-trips
    // where one fused assignment+mean pass pays iters — the
    // per-subspace math (argmax tie rule, per-dim mean, r6 floor
    // rounding after every step) is IDENTICAL, and r6 absorbs the
    // 1-ulp summation-order noise exactly as kmeansCentroids documents.
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // a small embeddings file scans as ONE partition, serializing the
    // (object-heavy) literal-fold assignment onto a single core —
    // spread it (Frames.fan: identity on an already-parallel source,
    // env-gated for fan A/Bs); books are partition-independent by
    // spec'd contract
    val d = graft.Frames.fan(df.select(id.cast("long").as("id"),
        vec.cast("array<double>").as("v")))
      .localCheckpoint(eager = false) // scanned once per iteration + seed
    val seeds = d.orderBy(col("id")).limit(k).collect()
    require(seeds.length == k, s"need at least $k vectors to seed PQ")
    var books: Seq[Seq[(Long, Seq[Double])]] = (0 until m).map { s =>
      seeds.toSeq.zipWithIndex.map { case (row, i) =>
        (i.toLong,
          row.getSeq[Double](1).slice(s * subDim, (s + 1) * subDim)
            .map(r6).toSeq)
      }
    }
    for (_ <- 1 to iters) {
      val subCols = (0 until m).map { s =>
        val sv = slice(col("v"), s * subDim + 1, subDim)
        struct(lit(s).as("s"),
          (-centroidArgmax(sv, books(s)).getField("ncid")).cast("long")
            .as("cid"),
          sv.as("sv"))
      }
      // m·k·subDim rows to the driver per iteration (the centroids
      // contract — tiny at any corpus size)
      val means = d.select(explode(array(subCols: _*)).as("a"))
        .select(col("a.s").as("s"), col("a.cid").as("cid"),
          posexplode(col("a.sv")).as(Seq("pos", "x")))
        .groupBy(col("s"), col("cid"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getLong(1)))
      books = books.zipWithIndex.map { case (cents, s) =>
        cents.map { case (cid, old) =>
          means.get((s, cid)) match {
            case Some(rows) =>
              (cid, rows.sortBy(_.getInt(2)).map(r => r6(r.getDouble(3))).toSeq)
            case None => (cid, old)
          }
        }
      }
    }
    books
  }

  /** The PQ code: per subspace, the id of the nearest codebook centroid
    * ([[centroidArgmax]]'s cosine rule, ties → lowest cid), as an
    * array of m small longs. A shuffle-free literal-fold projection,
    * like every other centroid assignment in this file.
    */
  def pqCode(vec: Column, books: Seq[Seq[(Long, Seq[Double])]],
             subDim: Int): Column =
    array(books.zipWithIndex.map { case (cents, s) =>
      (-centroidArgmax(slice(vec, s * subDim + 1, subDim), cents)
        .getField("ncid")).cast("long")
    }: _*)

  /** PQ ANN with asymmetric-distance scoring + exact rerank: docs carry
    * only their m-code (computed once at a select boundary) and the
    * reconstruction norm ‖x̂‖ (m literal-table lookups); each query —
    * the tiny broadcast side — precomputes its ADC LOOKUP TABLE
    * (dot(q_sub, centroid) for every (subspace, code): m·k doubles) at
    * a select boundary, so the per-candidate approximate score is m
    * array lookups and a fixed-order sum, never dim multiplications —
    * the memory-bandwidth shape that makes PQ serve at corpus scale.
    * approx_cosine = Σ_s lut[s][code_s] / (‖x̂‖·‖q‖); the top `rerank`
    * per query re-score with exact [[graft.expressions.CosineSim]] and
    * the final `k` rank on the exact value (the [[quantizedTopK]]
    * contract: approximation chooses candidates, it never orders
    * results). Every number derives from float-exact casts, 6-decimal
    * codebook literals, and fixed-order folds — a SQL oracle replays
    * scores bit-for-bit.
    */
  /** The PQ doc side: (doc_id, dv, __code, __rnorm) — the m-code plus
    * the reconstruction norm ‖x̂‖ from per-subspace literal tables of
    * ‖centroid‖² (driver-side doubles over the 6dp-rounded components,
    * in component order — the oracle sums the same list the same way).
    * Shared by [[pqTopK]] (inline) and [[saveIvfPqIndex]] (persisted).
    */
  private[operators] def pqEncode(docs: DataFrame, docId: Column,
                                  docVec: Column,
                                  books: Seq[Seq[(Long, Seq[Double])]],
                                  subDim: Int): DataFrame = {
    val normArrs: Seq[Seq[Double]] = books.map(cents =>
      cents.sortBy(_._1).map { case (_, cv) => cv.map(x => x * x).sum })
    docs.select(docId.as("doc_id"), docVec.as("dv"))
      .select(col("doc_id"), col("dv"),
        pqCode(col("dv"), books, subDim).as("__code"))
      .select(col("doc_id"), col("dv"), col("__code"),
        sqrt(normArrs.zipWithIndex.map { case (ns, s) =>
          element_at(typedLit(ns),
            element_at(col("__code"), s + 1).cast("int") + 1)
        }.reduce(_ + _)).as("__rnorm"))
  }

  /** The PQ query side: (query_id, qv, __lut, __qnorm) — the flattened
    * m·k ADC lookup table (dot(q_sub, centroid) per (subspace, code))
    * computed ONCE per query at a select boundary.
    */
  private[operators] def pqQuery(queries: DataFrame, queryId: Column,
                                 queryVec: Column,
                                 books: Seq[Seq[(Long, Seq[Double])]],
                                 subDim: Int): DataFrame = {
    val lut = array(books.zipWithIndex.flatMap { case (cents, s) =>
      cents.sortBy(_._1).map { case (_, cv) =>
        dotLit(slice(col("qv"), s * subDim + 1, subDim), cv) }
    }: _*)
    queries.select(queryId.as("query_id"), queryVec.as("qv"))
      .select(col("query_id"), col("qv"), lut.as("__lut"),
        VF.l2Norm(col("qv")).as("__qnorm"))
  }

  /** The ADC approximate dot: m array lookups in a fixed-order sum over
    * `__lut`/`__code` (the operation order the oracle replays).
    */
  private[operators] def pqApproxDot(m: Int, kk: Int): Column =
    (0 until m).map { s =>
      element_at(col("__lut"),
        (lit(s * kk) + element_at(col("__code"), s + 1)).cast("int") + 1)
    }.reduce(_ + _)

  def pqTopK(docs: DataFrame, docId: Column, docVec: Column,
             queries: DataFrame, queryId: Column, queryVec: Column,
             books: Seq[Seq[(Long, Seq[Double])]], subDim: Int,
             k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, "rerank depth must cover the final k")
    val m = books.size
    val kk = books.head.size
    val d = pqEncode(docs, docId, docVec, books, subDim)
    val q = pqQuery(queries, queryId, queryVec, books, subDim)
    val approx = pqApproxDot(m, kk)
    val denom = col("__rnorm") * col("__qnorm")
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cosine").desc, col("doc_id"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    d.crossJoin(broadcast(q))
      .withColumn("approx_cosine", when(denom > 0, approx / denom))
      .withColumn("__arank", row_number().over(wApprox))
      .filter(col("__arank") <= rerank)
      .withColumn("cosine", CosineSim(col("dv"), col("qv")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("cosine"),
        col("approx_cosine"), col("rank"))
  }

  /** Persist an IVF index: build once, probe many (the bloom
    * save/load lifecycle, for ANN). Layout:
    *
    * {{{
    *   path/centroids/         (cid, cv)    one tiny file
    *   path/lists/seg=K/cid=N/ (doc_id, dv) inverted lists as hive
    *                                        partitions, size-bounded
    *   path/commits/k=K/       commit markers — readers see ONLY
    *                           committed segments
    * }}}
    *
    * The lists land via [[graft.sources.Compaction.writeSized]], so a
    * hot list still writes in parallel and no list becomes a small-file
    * spray. Because `cid` is a PARTITION column, a probe's
    * `cid IN (...)` filter prunes at the directory level —
    * [[ivfTopKIndexed]] reads only the nprobe lists it ranks,
    * IO ∝ nprobe/C of the corpus, with zero assignment work at query
    * time. Assignment uses the same [[centroidArgmax]] tie rule as
    * every other centroid consumer. Appends land as commit-gated
    * segments (the BM25/IVF-PQ discipline), so a torn append is
    * invisible and a replayed batch id is a no-op.
    */
  def saveIvfIndex(docs: DataFrame, docId: Column, docVec: Column,
                   cents: Seq[(Long, Seq[Double])], path: String,
                   targetRows: Long = 1L << 20, spread: Int = 8): Unit = {
    val spark = docs.sparkSession
    require(cents.nonEmpty, "saveIvfIndex needs at least one centroid")
    spark.createDataFrame(cents).toDF("cid", "cv")
      .coalesce(1).write.mode("errorifexists").parquet(s"$path/centroids")
    // the build segment is -1: appended batches (streaming batch ids
    // start at 0) can never collide with it
    listSegments(spark, path).commit(-1L)(writeIvfData(docs, docId, docVec,
      cents, path, targetRows, spread, -1L))
  }

  /** The IVF / IVF-PQ segment index at `path`: segment K's list rows
    * live in `lists/seg=K` (see [[SegmentFs.Segments]]). */
  private def listSegments(spark: org.apache.spark.sql.SparkSession,
                           path: String) =
    new SegmentFs.Segments(spark, path, k => Seq(s"$path/lists/seg=$k"))

  /** Assign + land one batch as `lists/seg=<seg>/cid=N`.
    * dv stores as array<float> (CosineSim's native input; embeddings
    * are float32 anyway) — assignment math still runs in double
    * (VF.cosine upcasts elementwise), matching the SQL oracle.
    */
  private def writeIvfData(docs: DataFrame, docId: Column, docVec: Column,
                           cents: Seq[(Long, Seq[Double])], path: String,
                           targetRows: Long, spread: Int, seg: Long): Unit = {
    val assigned = docs
      .select(docId.cast("long").as("doc_id"),
        docVec.cast("array<float>").as("dv"))
      .withColumn("cid",
        (-centroidArgmax(col("dv"), cents).getField("ncid")).cast("long"))
    graft.sources.Compaction.writeSized(assigned, s"$path/lists/seg=$seg",
      Seq("cid"), col("doc_id"), targetRows, spread)
  }

  /** The committed rows of a persisted IVF index exactly as a reader
    * sees them (commit-marker-pruned; torn or in-flight appends
    * invisible) — index introspection for operator dashboards: g12
    * counts these rows to prove the tick's append landed exactly once
    * (a replayed or torn batch would break the count's oracle).
    */
  def ivfIndexedRows(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = ivfLists(spark, path)

  // list-row layouts of the IVF (raw vectors) and IVF-PQ (codes + norms)
  // indexes; `seg` is the segment directory
  private val ivfListDDL = "doc_id LONG, dv ARRAY<FLOAT>, cid LONG, seg LONG"
  private val ivfPqListDDL =
    "doc_id LONG, code ARRAY<LONG>, rnorm DOUBLE, cid LONG, seg LONG"

  /** List rows of segments `segs` — one read of the seg/cid tree pruned
    * to those segments, so torn or in-flight appends never load. */
  private def listRows(spark: org.apache.spark.sql.SparkSession,
                       path: String, ddl: String,
                       segs: Seq[Long]): DataFrame =
    spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .parquet(s"$path/lists").where(col("seg").isin(segs: _*)).drop("seg")

  /** The committed list rows of an IVF / IVF-PQ index. */
  private def committedLists(spark: org.apache.spark.sql.SparkSession,
                             path: String, ddl: String): DataFrame = {
    val segs = listSegments(spark, path).committed
    require(segs.nonEmpty, s"no committed list segments under $path")
    listRows(spark, path, ddl, segs)
  }

  private def ivfLists(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame =
    committedLists(spark, path, ivfListDDL)

  /** Append a new batch to a saved IVF index WITHOUT touching existing
    * list segments: assign against the saved (frozen) centroids, then
    * land a NEW commit-gated segment. O(batch) — the daily-crawl
    * maintenance path, the ANN cousin of the d9 bloom lifecycle: the
    * corpus-sized lists never rewrite or reshuffle, a replayed
    * `batchId` is a no-op, a torn write is invisible until its commit
    * marker lands, and [[ivfTopKIndexed]] reads old + new committed
    * segments of a pruned list transparently. Recall drifts only as
    * the data distribution drifts from the frozen centroids —
    * re-center by re-running [[kmeansCentroids]] + [[saveIvfIndex]]
    * when it does. Returns the segment id.
    */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     docs: DataFrame, docId: Column, docVec: Column,
                     targetRows: Long = 1L << 20, spread: Int = 8,
                     batchId: Option[Long] = None): Long =
    listSegments(spark, path).append(batchId, minId = 1L)(
      writeIvfData(docs, docId, docVec, loadIvfCentroids(spark, path), path,
        targetRows, spread, _))

  /** Fold every committed list segment ≤ `upTo` of an IVF index into
    * ONE merged segment — the band-index compaction
    * ([[graft.operators.Dedup.compactLshBandIndex]]) for the vector
    * indexes: a streaming `annIngestSink` accretes a directory per
    * micro-batch while the data stays corpus-bounded. Merged
    * generations take NEGATIVE ids below the base build (−2, −3, …),
    * never colliding with streaming batch ids; the fold de-duplicates
    * by doc_id so a crash-window rerun self-heals (commit, water line
    * and retirement order are [[SegmentFs]]'s). `upTo` is the stream's
    * replay watermark.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, upTo: Long,
                      targetRows: Long = 1L << 20,
                      spread: Int = 8): Option[Long] =
    compactListSegments(spark, path, upTo, ivfListDDL, targetRows, spread)

  /** [[compactIvfIndex]] for the IVF-PQ layout (codes + norms). */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, upTo: Long,
                        targetRows: Long = 1L << 20,
                        spread: Int = 8): Option[Long] =
    compactListSegments(spark, path, upTo, ivfPqListDDL, targetRows, spread)

  private def compactListSegments(spark: org.apache.spark.sql.SparkSession,
                                  path: String, upTo: Long,
                                  schemaDDL: String, targetRows: Long,
                                  spread: Int): Option[Long] =
    listSegments(spark, path).compact(upTo, baseSeg = -1L) { (fold, gen) =>
      graft.sources.Compaction.writeSized(
        listRows(spark, path, schemaDDL, fold).dropDuplicates("doc_id"),
        s"$path/lists/seg=$gen", Seq("cid"), col("doc_id"), targetRows, spread)
    }

  /** Recall@k of an approximate top-k result against the exact one —
    * the number that drives the IVF RE-CENTER decision:
    * [[appendIvfIndex]] freezes centroids, so recall decays only as
    * the appended data drifts from them; measure on each appended
    * batch (approx = the frozen-centroid probe, exact = brute cosine
    * over the same corpus) and re-center when it dips. Inputs are any
    * two (query_id, doc_id, rank) frames; output per query:
    * `n_exact` (exact hits ≤ k — can be < k on small corpora),
    * `n_hit` (exact hits the approx result found), and
    * `recall = n_hit / n_exact`. Both sides are query-batch-sized —
    * the join is broadcast-trivial at any corpus scale.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val a = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), lit(1).as("_hit"))
    val e = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"))
    e.join(a, Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("_hit")).as("n_hit"))
      .withColumn("recall",
        when(col("n_exact") > 0,
          col("n_hit").cast("double") / col("n_exact"))
          .otherwise(lit(1.0)))
  }

  /** Re-center a persisted IVF index once [[recallAtK]] says the
    * frozen centroids have drifted: re-train k-means over the indexed
    * vectors (a deterministic hash-sample below `sampleRate` 1.0 — at
    * corpus scale the centroids need a sample, not every vector) and
    * rebuild into `outPath`. The corpus rewrites ONCE — the same cost
    * as the original build, which is the floor for changing every
    * row's partition — while the old index stays readable throughout;
    * serving cuts over by path swap. Completes the lifecycle:
    * build ([[saveIvfIndex]]) → O(batch) grow ([[appendIvfIndex]]) →
    * measure ([[recallAtK]]/v13) → re-center (here) → repeat.
    * Returns the new centroids.
    */
  def recenterIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, outPath: String, k: Int, iters: Int,
                       sampleRate: Double = 1.0,
                       targetRows: Long = 1L << 20,
                       spread: Int = 8): Seq[(Long, Seq[Double])] = {
    val docs = ivfLists(spark, path)
    val trainSet =
      if (sampleRate >= 1.0) docs
      else Sampling.hashSample(docs, col("doc_id"), sampleRate, "ivf-recenter")
    val cents = kmeansCentroids(trainSet, col("doc_id"), col("dv"), k, iters)
    saveIvfIndex(docs, col("doc_id"), col("dv"), cents, outPath,
      targetRows, spread)
    cents
  }

  /** Outcome of one [[maintainIvfIndex]] tick: the measured probe
    * recall, whether the floor tripped a re-center, the path serving
    * should read from now, and the new centroids when one happened.
    */
  final case class IvfMaintenance(meanRecall: Double, recentered: Boolean,
                                  servePath: String,
                                  centroids: Option[Seq[(Long, Seq[Double])]])

  /** The closed IVF maintenance loop — v13's measurement wired to
    * v14's action as POLICY: probe the index with a query batch, score
    * recall@k against exact brute cosine over the indexed vectors, and
    * re-center into `outPath` iff the mean recall dips below
    * `recallFloor`; otherwise the index is left untouched. Run it on
    * whatever cadence appends arrive (e.g. after every
    * [[appendIvfIndex]], or daily) with a held-out probe batch drawn
    * from RECENT data — frozen centroids decay against the newest
    * distribution first, so probing old data would flatter the index.
    *
    * Cost model, at corpus scale: the no-trigger tick costs one probe
    * (nprobe/C of the corpus, partition-pruned) plus one exact pass
    * over the lists for the probe batch (one scan, query-batch-sized
    * ranking state) — the measurement IS the expensive half, which is
    * why it gates the rebuild instead of rebuilding on a timer. The
    * triggered path additionally pays one k-means fit over a
    * `sampleRate` hash-sample and ONE corpus rewrite into `outPath`
    * (the floor for changing every row's partition); the old index
    * stays readable throughout and serving cuts over by path swap —
    * `servePath` says which.
    *
    * Everything is deterministic (probe/exact tie rules, k-means,
    * hash sample), so a tick is replayable: same index + same probe
    * batch ⇒ same decision, bit for bit.
    */
  def maintainIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, outPath: String, queries: DataFrame,
                       queryId: Column, queryVec: Column, k: Int,
                       nprobe: Int, recallFloor: Double, kCentroids: Int,
                       iters: Int, sampleRate: Double = 1.0,
                       targetRows: Long = 1L << 20,
                       spread: Int = 8): IvfMaintenance = {
    val approx = ivfTopKIndexed(spark, path, queries, queryId, queryVec,
      k, nprobe)
    val docs = ivfLists(spark, path)
    val exact = topKPerQuery(docs, col("doc_id"), col("dv"),
      queries, queryId, queryVec, k)
    meanRecallOf(approx, exact, k) match {
      case Some(mean) if mean < recallFloor =>
        if (listSegments(spark, outPath).committed.nonEmpty) {
          // a prior triggered tick COMPLETED this rebuild (some segment
          // committed — the base build lands as -1, but a later
          // compaction can retire it into a negative merged generation,
          // so ANY committed segment means the rebuild finished): a
          // replay must not rebuild over an index that external readers
          // may already serve from — cut over again. A torn attempt
          // commits nothing, so it still takes the reclaim branch.
          IvfMaintenance(mean, recentered = true, outPath,
            Some(loadIvfCentroids(spark, outPath)))
        } else {
          SegmentFs.reclaim(spark, outPath) // a torn prior attempt
          val cents = recenterIvfIndex(spark, path, outPath, kCentroids,
            iters, sampleRate, targetRows, spread)
          IvfMaintenance(mean, recentered = true, outPath, Some(cents))
        }
      case mean =>
        IvfMaintenance(mean.getOrElse(1.0), recentered = false, path, None)
    }
  }

  /** Mean recall of a probe batch as the maintenance decision input
    * (one scalar to the driver — contract-tiny), or None for an EMPTY
    * batch: a no-data trigger or recovery replay carries no drift
    * evidence, so the tick must neither crash (`avg` of nothing is
    * null) nor rebuild.
    */
  private def meanRecallOf(approx: DataFrame, exact: DataFrame,
                           k: Int): Option[Double] = {
    val r = recallAtK(approx, exact, k).agg(avg(col("recall"))).head()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  /** Centroid set of a saved index, in cid order. */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       path: String): Seq[(Long, Seq[Double])] =
    SegmentFs.readCommitted(spark, s"$path/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1).toSeq

  /** Probe a saved IVF index: per query rank ONLY the nprobe nearest
    * lists, read via partition pruning — the steady-state ANN serving
    * call. Probe lists compute with the same expression as [[ivfTopK]]
    * (nearest centroids, ties → lowest cid); the probed cid set — at
    * most |queries|·nprobe values, tiny by the query-batch contract —
    * collects to the driver to become a literal partition filter on the
    * list scan. Output matches [[ivfTopK]]: query_id, doc_id, cosine,
    * rank.
    *
    * FILTERED search (`allowed` = a one-column `doc_id` allow-set,
    * typically a metadata predicate over the doc table): candidates
    * PRE-filter via a semi-join on the pruned lists, the vector-store
    * filtered-query shape — exactness is unchanged (the filter composes
    * before the rank, so results equal brute-force top-k over the
    * allowed subset within the probed lists).
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, queryId: Column, queryVec: Column,
                     k: Int, nprobe: Int,
                     allowed: Option[DataFrame] = None): DataFrame = {
    val cents = loadIvfCentroids(spark, path)
    val q = queries.select(queryId.as("query_id"),
      queryVec.cast("array<float>").as("qv"))
    val probeStructs = cents.map { case (cid, cv) =>
      struct((-VF.cosine(col("qv"), typedLit(cv))).as("negcos"),
        lit(cid).as("cid"))
    }
    val probes = q
      .withColumn("pc",
        explode(slice(array_sort(array(probeStructs: _*)), 1, nprobe)))
      .select(col("query_id"), col("qv"), col("pc.cid").as("cid"))
    val probedCids = probes.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    val lists0 = ivfLists(spark, path)
      .filter(col("cid").isin(probedCids.toIndexedSeq: _*))
    // PRE-filter: the allow-set semi-joins the pruned lists BEFORE any
    // ranking, so candidate volume shrinks with predicate selectivity
    // (post-filtering a top-k instead under-fills and re-probes). The
    // join strategy is Catalyst's call — a small allow-set broadcasts,
    // a corpus-sized one shuffle-semi-joins; partition pruning by cid
    // is untouched either way.
    val lists = allowed.fold(lists0)(a =>
      lists0.join(a.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    probes.join(lists, "cid")
      .withColumn("cosine", CosineSim(col("dv"), col("qv")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("cosine"), col("rank"))
  }

  /** Persist an IVF-PQ index — the FAISS IVFPQ composition (Jégou et
    * al. 2011 §IV): coarse centroids route docs into hive-partitioned
    * inverted lists exactly like [[saveIvfIndex]], but each list row
    * stores the m-CODE + reconstruction norm instead of the raw vector
    * — a probe reads nprobe/C of the corpus (partition pruning) AND
    * each row it reads is m longs instead of dim floats (PQ), so the
    * serve-path IO shrinks on both axes at once. Raw vectors stay in
    * the corpus table; [[ivfPqTopK]] hydrates only the rerank
    * survivors. Layout (all self-describing):
    *
    * {{{
    *   path/centroids/         (cid, cv)       coarse router
    *   path/books/             (sub, cid, cv)  PQ codebooks (loadPqBooks)
    *   path/lists/seg=K/cid=N/ (doc_id, code, rnorm)
    *   path/commits/k=K/       commit markers — readers see ONLY
    *                           committed segments, so torn appends are
    *                           invisible and replays are no-ops
    * }}}
    */
  def saveIvfPqIndex(docs: DataFrame, docId: Column, docVec: Column,
                     cents: Seq[(Long, Seq[Double])],
                     books: Seq[Seq[(Long, Seq[Double])]], subDim: Int,
                     path: String, targetRows: Long = 1L << 20,
                     spread: Int = 8): Unit = {
    val spark = docs.sparkSession
    require(cents.nonEmpty, "saveIvfPqIndex needs at least one centroid")
    require(books.nonEmpty, "saveIvfPqIndex needs at least one codebook")
    spark.createDataFrame(cents).toDF("cid", "cv")
      .coalesce(1).write.mode("errorifexists").parquet(s"$path/centroids")
    spark.createDataFrame(
        books.zipWithIndex.flatMap { case (cs, s) =>
          cs.map { case (cid, cv) => (s.toLong, cid, cv) } })
      .toDF("sub", "cid", "cv")
      .coalesce(1).write.mode("errorifexists").parquet(s"$path/books")
    // build segment -1 (the saveIvfIndex convention): streaming batch
    // ids start at 0 and must never collide with the base build
    listSegments(spark, path).commit(-1L)(writeIvfPqData(docs, docId,
      docVec, cents, books, subDim, path, targetRows, spread, -1L))
  }

  /** Encode + route one batch into `lists/seg=<seg>/cid=N`. */
  private def writeIvfPqData(docs: DataFrame, docId: Column,
                             docVec: Column,
                             cents: Seq[(Long, Seq[Double])],
                             books: Seq[Seq[(Long, Seq[Double])]],
                             subDim: Int, path: String,
                             targetRows: Long, spread: Int,
                             seg: Long): Unit = {
    val enc = pqEncode(docs,
        docId.cast("long"), docVec.cast("array<float>"), books, subDim)
      .withColumn("cid",
        (-centroidArgmax(col("dv"), cents).getField("ncid")).cast("long"))
      .select(col("doc_id"), col("__code").as("code"),
        col("__rnorm").as("rnorm"), col("cid"))
    graft.sources.Compaction.writeSized(enc, s"$path/lists/seg=$seg",
      Seq("cid"), col("doc_id"), targetRows, spread)
  }

  /** Codebooks back from an IVF-PQ index, in subspace order with each
    * book's centroids sorted by cid — the shape [[pqQuery]]/[[pqCode]]
    * consume (probes self-describe instead of trusting the caller).
    */
  def loadPqBooks(spark: org.apache.spark.sql.SparkSession,
                  path: String): Seq[Seq[(Long, Seq[Double])]] =
    SegmentFs.readCommitted(spark, s"$path/books").collect()
      .map(r => (r.getAs[Long]("sub"), r.getAs[Long]("cid"),
        r.getSeq[Double](r.fieldIndex("cv")).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(t => (t._2, t._3)).toSeq)

  /** Append a batch to a saved IVF-PQ index with FROZEN coarse
    * centroids and FROZEN codebooks: encode, route, land as a NEW
    * commit-gated list segment — O(batch), existing segments untouched,
    * replaying a committed `batchId` is a no-op, and a torn write is
    * invisible to readers until its commit marker lands (the BM25-index
    * discipline; returns the segment id). ADC accuracy decays as the
    * appended distribution drifts from the frozen books — new vectors
    * quantize onto centroids fit to OLD data, collapsing their codes —
    * which is exactly what [[maintainIvfPqIndex]] measures.
    */
  def appendIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, docs: DataFrame, docId: Column,
                       docVec: Column, targetRows: Long = 1L << 20,
                       spread: Int = 8,
                       batchId: Option[Long] = None): Long =
    listSegments(spark, path).append(batchId, minId = 1L) { k =>
      val cents = loadIvfCentroids(spark, path)
      val books = loadPqBooks(spark, path)
      writeIvfPqData(docs, docId, docVec, cents, books,
        books.head.head._2.size, path, targetRows, spread, k)
    }

  /** Outcome of one [[maintainIvfPqIndex]] tick. */
  final case class IvfPqMaintenance(meanRecall: Double, rebuilt: Boolean,
                                    servePath: String)

  /** The closed IVF-PQ maintenance loop (the [[maintainIvfIndex]]
    * policy, for the codebook axis): probe the index with a query
    * batch, score recall@k against exact brute cosine over `corpus`
    * (the raw-vector source of truth — lists store codes only), and
    * REBUILD the codebooks + lists into `outPath` iff mean recall dips
    * below `recallFloor`. The coarse router survives the rebuild (its
    * drift channel is [[maintainIvfIndex]]'s); what retrains here is
    * the quantizer, because frozen books are what collapse appended
    * clusters onto stale codes. No-trigger ticks cost one pruned ADC
    * probe + one query-batch-sized exact pass; the triggered path pays
    * m k-means fits and ONE corpus re-encode (codes + norms, never raw
    * vectors). Deterministic end to end ⇒ every tick replayable.
    */
  def maintainIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, outPath: String, corpus: DataFrame,
                         corpusId: Column, corpusVec: Column,
                         queries: DataFrame, queryId: Column,
                         queryVec: Column, k: Int, nprobe: Int,
                         rerank: Int, recallFloor: Double, m: Int,
                         subDim: Int, kCodes: Int, iters: Int,
                         targetRows: Long = 1L << 20,
                         spread: Int = 8): IvfPqMaintenance = {
    val approx = ivfPqTopK(spark, path, corpus, corpusId, corpusVec,
      queries, queryId, queryVec, k, nprobe, rerank)
    val exact = topKPerQuery(
      corpus.select(corpusId.cast("long").as("doc_id"),
        corpusVec.cast("array<float>").as("dv")),
      col("doc_id"), col("dv"), queries, queryId, queryVec, k)
    meanRecallOf(approx, exact, k) match {
      case Some(mean) if mean < recallFloor =>
        if (listSegments(spark, outPath).committed.nonEmpty) {
          // a prior triggered tick COMPLETED this rebuild (some
          // segment committed — the base build lands as -1, but a
          // later compaction can retire it into a negative merged
          // generation, so ANY committed segment means the rebuild
          // finished): a replay must not delete an index that external
          // readers following the tick's serve_path may already be
          // reading — cut over to it again (the segment-level
          // idempotence, at index granularity). A torn attempt commits
          // nothing, so it still takes the reclaim branch.
          IvfPqMaintenance(mean, rebuilt = true, outPath)
        } else {
          val cents = loadIvfCentroids(spark, path)
          val books = pqCodebooks(corpus, corpusId, corpusVec,
            m, subDim, kCodes, iters)
          SegmentFs.reclaim(spark, outPath) // a torn prior attempt
          saveIvfPqIndex(corpus, corpusId, corpusVec, cents, books,
            subDim, outPath, targetRows, spread)
          IvfPqMaintenance(mean, rebuilt = true, outPath)
        }
      // empty probe batch (None): no evidence, serve the existing index
      case mean => IvfPqMaintenance(mean.getOrElse(1.0), rebuilt = false,
        path)
    }
  }

  /** Probe an IVF-PQ index: nprobe coarse lists read PRUNED (hive
    * partition filter), candidates score by ADC over the stored codes
    * (m lookups, no raw vectors touched), the top `rerank` per query
    * hydrate their raw vectors from the corpus via a broadcast of the
    * bounded candidate list, and the final k rank on exact cosine —
    * approximation chooses candidates, it never orders results.
    */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                corpus: DataFrame, corpusId: Column, corpusVec: Column,
                queries: DataFrame, queryId: Column, queryVec: Column,
                k: Int, nprobe: Int, rerank: Int): DataFrame = {
    require(rerank >= k, "rerank depth must cover the final k")
    val cents = loadIvfCentroids(spark, path)
    val books = loadPqBooks(spark, path)
    val m = books.size
    val kk = books.head.size
    val subDim = books.head.head._2.size
    val q = pqQuery(queries, queryId, queryVec, books, subDim)
    val probeStructs = cents.map { case (cid, cv) =>
      struct((-VF.cosine(col("qv"), typedLit(cv))).as("negcos"),
        lit(cid).as("cid"))
    }
    val probes = q
      .withColumn("pc",
        explode(slice(array_sort(array(probeStructs: _*)), 1, nprobe)))
      .select(col("query_id"), col("qv"), col("__lut"), col("__qnorm"),
        col("pc.cid").as("cid"))
    val probedCids = probes.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    val lists = committedLists(spark, path, ivfPqListDDL)
      .filter(col("cid").isin(probedCids.toIndexedSeq: _*))
      .withColumnRenamed("code", "__code")
    val denom = col("rnorm") * col("__qnorm")
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cosine").desc, col("doc_id"))
    val cand = probes.join(lists, "cid")
      .withColumn("approx_cosine",
        when(denom > 0, pqApproxDot(m, kk) / denom))
      .withColumn("__arank", row_number().over(wApprox))
      .filter(col("__arank") <= rerank)
      .select(col("query_id"), col("doc_id"), col("qv"),
        col("approx_cosine"))
    val dv = corpus.select(corpusId.cast("long").as("doc_id"),
      corpusVec.cast("array<float>").as("dv"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    dv.join(broadcast(cand), "doc_id")
      .withColumn("cosine", CosineSim(col("dv"), col("qv")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("cosine"),
        col("approx_cosine"), col("rank"))
  }

  // ---------------------------------------------------------------------
  // Maximal marginal relevance (Carbonell & Goldstein 1998): diversified
  // serving re-rank over a bounded candidate set. Three composable
  // stages so callers can stage the bounded tables between them (the
  // x5 scratch discipline — each table is consumed more than once).
  // ---------------------------------------------------------------------

  /** Stage 1 — per-query candidates with the query similarity already
    * quantized to 1e-6 integer micro-units (`squ`): the brute
    * [[topKPerQuery]] broadcast scan, the ONLY corpus-sized stage of
    * the MMR pipeline. Output: (query_id, doc_id, squ).
    */
  def mmrCandidateSims(docs: DataFrame, docId: Column, docVec: Column,
                       queries: DataFrame, queryId: Column,
                       queryVec: Column, kCand: Int): DataFrame =
    topKPerQuery(docs, docId, docVec, queries, queryId, queryVec, kCand)
      .select(col("query_id"), col("doc_id"),
        floor(col("cosine") * lit(1e6) + lit(0.5)).cast("long").as("squ"))

  /** Stage 2 — all directed candidate pairs within each query's set
    * with their doc-doc cosine in micro-units (`pu`): kCand² rows per
    * query, hydrated from the corpus by one fine-grained join and
    * self-joined per query key. Output: (query_id, ia, ib, pu).
    */
  def mmrPairSims(cands: DataFrame, docs: DataFrame, docId: Column,
                  docVec: Column): DataFrame = {
    val ce = cands.select(col("query_id"), col("doc_id"))
      .join(docs.select(docId.as("doc_id"), docVec.as("_dv")), "doc_id")
    val a = ce.select(col("query_id"), col("doc_id").as("ia"),
      col("_dv").as("_va"))
    val b = ce.select(col("query_id"), col("doc_id").as("ib"),
      col("_dv").as("_vb"))
    a.join(b, Seq("query_id"))
      .filter(col("ia") =!= col("ib"))
      .select(col("query_id"), col("ia"), col("ib"),
        floor(CosineSim(col("_va"), col("_vb")) * lit(1e6) + lit(0.5))
          .cast("long").as("pu"))
  }

  /** Stage 3 — the greedy MMR selection, UNROLLED kOut steps: pick 1
    * is the plain relevance argmax; each later pick maximizes
    * wRel·squ − wDiv·max_{s∈selected} pu(d, s) over the not-yet-
    * selected candidates. Every comparison is integer-vs-integer
    * (micro-unit sims, integer weights — λ=0.7 is wRel=7/wDiv=3) with
    * doc_id tie-breaks, so selection is deterministic on any engine,
    * and the DuckDB oracle replays the same unrolled chain
    * relationally. Queries with fewer than kOut candidates emit what
    * they have.
    *
    * Scale shape: each step joins candidate-sized tables on the
    * fine-grained query key (≤ kCand, ≤ kCand² rows per query) — at a
    * billion queries the greedy is embarrassingly parallel and never
    * touches the corpus. Pass STAGED cands/pairs (each is consumed
    * once per step; a lazy plan would recompute its scan kOut times).
    * The selected set itself stages to `stageDir` after every step —
    * load-bearing, not an optimization: the step-i plan consumes the
    * accumulated selection twice (anti-filter + pair probe) while the
    * selection derives from `cands` itself, and Spark's self-join
    * attribute resolution silently corrupts such plans (duplicate
    * ranks measured without it); the parquet round trip breaks the
    * shared lineage and keeps the unrolled plan flat.
    *
    * Output: (query_id, doc_id, squ, mmr_rank, mmr_score).
    */
  def mmrTopK(cands: DataFrame, pairs: DataFrame, kOut: Int,
              wRel: Long, wDiv: Long, stageDir: String): DataFrame = {
    def staged(df: DataFrame, i: Int) = SegmentFs.stage(df, s"$stageDir/sel_$i")
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("squ").desc, col("doc_id"))
    var sel = staged(cands.withColumn("_rn", row_number().over(w1))
      .filter(col("_rn") === 1)
      .select(col("query_id"), col("doc_id"), col("squ"),
        lit(1).as("mmr_rank"), (lit(wRel) * col("squ")).as("mmr_score")),
      1)
    for (i <- 2 to kOut) {
      val selIds = sel.select(col("query_id"), col("doc_id"))
      val rem = cands.join(selIds, Seq("query_id", "doc_id"), "left_anti")
      val wi = Window.partitionBy(col("query_id"))
        .orderBy(col("mmr_score").desc, col("doc_id"))
      val next = rem
        .join(pairs.withColumnRenamed("ia", "doc_id"),
          Seq("query_id", "doc_id"))
        .join(selIds.withColumnRenamed("doc_id", "ib"),
          Seq("query_id", "ib"))
        .groupBy(col("query_id"), col("doc_id"), col("squ"))
        .agg(max(col("pu")).as("_mp"))
        .select(col("query_id"), col("doc_id"), col("squ"),
          (lit(wRel) * col("squ") - lit(wDiv) * col("_mp"))
            .as("mmr_score"))
        .withColumn("_rn", row_number().over(wi))
        .filter(col("_rn") === 1)
        .select(col("query_id"), col("doc_id"), col("squ"),
          lit(i).as("mmr_rank"), col("mmr_score"))
      sel = staged(sel.unionByName(next), i)
    }
    sel
  }
}
