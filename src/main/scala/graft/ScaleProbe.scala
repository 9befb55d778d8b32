package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic 10× scale probe (r16 verdict #5): validates the two claims
  * the sf0.1 bench cannot —
  *
  *  1. `Frames.fan` is the IDENTITY on a realistically-partitioned
  *     source (the scaled corpus lands as ≥32-file parquet, so every
  *     fan call must add zero exchanges), and
  *  2. no heavy query hides a superlinear constant: at 10× rows a
  *     linear-plan query should cost ≲10× (usually much less at this
  *     scale, where per-job scheduling overhead dominates sf0.1 — a
  *     10× corpus amortizes the same fixed job count over more data).
  *
  * Build: each scaled table is `copies` self-unions with DISJOINT
  * re-keyed ids (key + k·(max+1)), so graph/join cardinalities scale
  * linearly instead of densifying. The documents TEXT is re-keyed too:
  * copy k applies a rotation-k `translate` over the full lowercase
  * alphabet (a bijection per copy), so each copy's internal
  * dup/near-dup structure is isomorphic to the original while CROSS-
  * copy token overlap stays low — a straight 10× text replication
  * would instead multiply every doc into a 10-clique of exact dups
  * and measure the C(10,2) pair blowup of the DATA, not the engine.
  * Tables scaled: documents, embeddings, events, orders+lineitem
  * (order keys re-keyed consistently across both). Dimension tables
  * copy through unchanged.
  *
  * Run: `sbt "runMain graft.ScaleProbe [sfDir] [copies] [outBase]
  * [query...]"` — defaults sf0.1 × 10 over the verdict's top-10
  * heavies. Each query runs TWICE against each dir (interleaved
  * base/scaled/base/scaled, each a [[Harness.run]]), and one JSON line
  * per query reports {q, base_sec, scaled_sec, ratio, base_reps,
  * scaled_reps, loads, steals} with base/scaled the min-of-2 —
  * matching Bench's rationale: a single-shot ratio inherits the ±2-8×
  * load swing and can flip a superlinearity verdict. Results land in
  * COVERAGE.md's scale-probe table; this main is a diagnostic, not a
  * driver surface.
  */
object ScaleProbe {

  /** The verdict's top-10 heavies: every pinned-intrinsic lifecycle or
    * exact-verify twin whose 100 TB story needed a measurement. */
  val heavies: Seq[String] = Seq(
    "d4_jaccard_pairs", "d22_containment_pairs", "g4_dedup_corpus",
    "g10_daily_tick", "g11_restated_day", "n2_pagerank_tick",
    "tq14_lr_model_log", "v20_ivfpq_indexed", "d18_neardup_ingest",
    "tc3_memorization_probe")

  // The full 26-letter alphabet so rotations 1..25 are all distinct
  // non-identities, supporting copies ≤ 26 (the r18 verdict's 20×
  // third scale point needed >13). History: a 9-letter ring made copy
  // 9 byte-identical to copy 0 at copies=10 (9 % 9 == 0), handing
  // every document one cross-copy EXACT duplicate and re-introducing
  // the dup blowup the perturbation exists to avoid (caught by review
  // r17); 13 letters fixed that but capped the probe at 13 copies.
  // A full-alphabet rotation is still a bijection per copy, so each
  // copy's internal dup/near-dup structure stays isomorphic.
  private[graft] val ring = "abcdefghijklmnopqrstuvwxyz"
  private[graft] def rot(k: Int): String = {
    val r = k % ring.length
    ring.drop(r) + ring.take(r)
  }

  /** Copy-k text transform: bijective letter rotation (identity at k=0). */
  private[graft] def perturb(text: org.apache.spark.sql.Column, k: Int) =
    if (k % ring.length == 0) text
    else translate(text, ring + ring.toUpperCase,
      rot(k) + rot(k).toUpperCase)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = if (args.length > 1) args(1).toInt else 10
    val outBase = if (args.length > 2) args(2) else "/tmp/graft_scale10"
    val queries = if (args.length > 3) args.drop(3).toSeq else heavies
    val byName = SparkEntry.select(queries)
    val spark = GraftSession.driver()

    require(copies >= 1 && copies <= ring.length,
      s"text perturbation is distinct for at most ${ring.length} copies")
    val dataDir = s"$outBase/data"
    // the marker names BOTH the base dir and the copy count, and stale
    // markers are deleted on rebuild — a dataDir only ever corresponds
    // to the single surviving marker, so re-running with a previously-
    // used copies value can never silently reuse mismatched data
    val base = new java.io.File(outBase)
    // the marker also names the ring length: a corpus built under the
    // 13-letter ring must not be silently reused by code carrying the
    // 26-letter one (same copies value, different bytes)
    val markerName =
      s"_BUILT_${new java.io.File(sfDir).getName}_${copies}x_ring${ring.length}"
    val marker = new java.io.File(base, markerName)
    if (!marker.exists()) {
      // invalidate FIRST, build, then stamp: deleting stale markers
      // only after a successful build meant a mid-build crash left the
      // OLD marker pointing at a half-overwritten mixed-copies dataDir,
      // which a re-run at the old copies value would silently reuse
      // (ADVICE r17)
      base.mkdirs()
      Option(base.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("_BUILT_")).foreach(_.delete())
      buildScaled(spark, sfDir, dataDir, copies)
    }
    base.mkdirs()
    marker.createNewFile(): Unit

    // warm both dirs' scans so neither side pays first-touch IO
    Harness.warm(spark, sfDir)
    Harness.warm(spark, dataDir)

    // min-of-2 per dir, reps interleaved base/scaled/base/scaled, each
    // a Harness.run (scrubbed, 1-min load and steal sampled): single-
    // shot ratios inherit the ±2-8× machine-load swing the bench
    // documentation pins, so one noisy rep could flip a 'superlinear'
    // verdict recorded in COVERAGE; with min-of-2 + the per-rep load on
    // the JSON line, a contaminated probe is discountable from the
    // artifact (ADVICE r17)
    val rows = queries.map { name =>
      val reps = Seq(sfDir, dataDir, sfDir, dataDir)
        .map(Harness.run(spark, _, name, byName(name)))
      val Seq(b1, s1, b2, s2) = reps.map(_.wall)
      def minPos(a: Double, b: Double): Double = {
        val v = Seq(a, b).filter(_ >= 0)
        if (v.isEmpty) -1.0 else v.min
      }
      val b = minPos(b1, b2)
      val s = minPos(s1, s2)
      val ratio = if (b > 0 && s > 0) math.floor(s / b * 100) / 100 else -1.0
      def f3(v: Double): Double = math.floor(v * 1000) / 1000
      println(s"""{"q":"$name","base_sec":${f3(b)},"scaled_sec":${f3(s)},"ratio":$ratio,"base_reps":[${f3(b1)},${f3(b2)}],"scaled_reps":[${f3(s1)},${f3(s2)}],"loads":[${reps.map(_.load).mkString(",")}],"steals":[${reps.map(_.steal).mkString(",")}]}""")
      (name, b, s, ratio)
    }
    val t = rows.map(r => s"${r._1}:${r._4}").mkString(",")
    println(s"""{"metric":"scale_probe","copies":$copies,"ratios":"$t"}""")
    spark.stop()
  }

  /** Land the scaled star at `dataDir` (each table a multi-file parquet
    * DIRECTORY named `<table>.parquet`, ≥32 files for the big ones, so
    * Frames.fan sees a realistically-partitioned source). */
  def buildScaled(spark: SparkSession, sfDir: String, dataDir: String,
                  copies: Int): Unit = {
    new java.io.File(dataDir).mkdirs()
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1
    def land(name: String, parts: Seq[DataFrame], nFiles: Int): Unit =
      parts.reduce(_.unionAll(_)).repartition(nFiles)
        .write.mode("overwrite").parquet(s"$dataDir/$name.parquet")

    val docs = Tables.load(spark, sfDir, "documents")
    val mDoc = maxOf(docs, "doc_id")
    land("documents", (0 until copies).map { k =>
      docs.select((col("doc_id") + lit(k * mDoc)).as("doc_id"),
        perturb(col("text"), k).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, 64)

    val emb = Tables.load(spark, sfDir, "embeddings")
    val mVec = maxOf(emb, "vec_id")
    land("embeddings", (0 until copies).map { k =>
      emb.withColumn("vec_id", col("vec_id") + lit(k * mVec))
    }, 32)

    val ev = Tables.load(spark, sfDir, "events")
    val mEvt = maxOf(ev, "event_id")
    val mUsr = maxOf(ev, "user_id")
    land("events", (0 until copies).map { k =>
      ev.withColumn("event_id", col("event_id") + lit(k * mEvt))
        .withColumn("user_id", col("user_id") + lit(k * mUsr))
    }, 64)

    // orders+lineitem: order keys re-key CONSISTENTLY across the two
    // tables; cust/supp keys re-key so the bipartite graph stays a
    // disjoint union (linear growth, not densification). The customer/
    // supplier DIMENSIONS re-key with the SAME offsets — an unscaled
    // dim against re-keyed fact fks would silently drop (copies-1)/
    // copies of every dim join's rows and understate the scaled cost
    // (caught by review r17). Shared offset = max over BOTH sides of
    // the key domain, so fk⊆pk survives generators where the dim holds
    // keys the facts never reference.
    val ord = Tables.load(spark, sfDir, "orders")
    val li = Tables.load(spark, sfDir, "lineitem")
    val cust = Tables.load(spark, sfDir, "customer")
    val supp = Tables.load(spark, sfDir, "supplier")
    val mOrd = maxOf(ord, "o_orderkey")
    val mCust = math.max(maxOf(ord, "o_custkey"), maxOf(cust, "c_custkey"))
    val mSupp = math.max(maxOf(li, "l_suppkey"), maxOf(supp, "s_suppkey"))
    land("orders", (0 until copies).map { k =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(k * mOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(k * mCust))
    }, 64)
    land("lineitem", (0 until copies).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * mOrd))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * mSupp))
    }, 64)
    land("customer", (0 until copies).map { k =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(k * mCust))
    }, 8)
    land("supplier", (0 until copies).map { k =>
      supp.withColumn("s_suppkey", col("s_suppkey") + lit(k * mSupp))
    }, 4)

    // key-free dimensions pass through unscaled (part is referenced by
    // l_partkey, which is deliberately NOT re-keyed: parts are shared
    // across copies, like a real catalog)
    Seq("region", "nation", "part").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
        java.nio.file.Paths.get(s"$dataDir/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }
}
