package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the configuration the engine expects.
  *
  * Tuned for the local[32] test harness but every knob is the one you would
  * also set on a real cluster: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing), shuffle partitions sized to the parallelism at
  * hand rather than the 200 default, UTC session time zone so timestamp
  * semantics match the DuckDB oracle bit-for-bit.
  */
object GraftSession {

  /** Apply engine defaults to an arbitrary builder (tests and the
    * benchmark harness build their own master/memory settings).
    */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new graft.expressions.GraftExtensions)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.filterPushdown", "true")
    // the synthetic events table carries TIMESTAMP(NANOS) parquet columns,
    // which Spark only reads as long; Tables.load converts back (µs).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // shuffle/spill/broadcast codec. The r18 paired ABBA A/Bs split by
    // cost class: zstd won the shuffle-IO class (d15 −0.5 s, d18/n2
    // −0.3-0.6 s) and LOST the CPU-priced class (d22/g4/a7 +0.3-0.6 s)
    // — no suite-wide winner, so lz4 (COVERAGE.md, OPTIMIZATION_r18.md);
    // at 100 TB a network-bound shuffle profile justifies zstd.
    .config("spark.io.compression.codec", "lz4")
    .config("spark.ui.enabled", "false")

  /** Driver cores, as the mains report them. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session every driver main runs on: local[SPARK_GRAFT_CPUS]
    * (default 4) with SPARK_GRAFT_SHUFFLE shuffle partitions (default:
    * the core count). The shuffle override exists for scale probes: at
    * a fixed partition count, per-partition sort/fetch cost grows
    * superlinearly with data — on a real cluster partitions scale with
    * input size, so the knob separates engine cost from the local-mode
    * fixed-partition artifact (r18 n2 probe).
    */
  def driver(): SparkSession = {
    val s = tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Loaders for the driver-generated star schema (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation memo (r18 optimization round, guide §6): every
    * `spark.read.parquet` construction re-lists the table's files and
    * re-reads parquet footers for schema — measured 56-81 ms per load
    * at sf0.1, and the suite constructs each query fresh per rep, so
    * ~900 loads ≈ 50 s of pure driver-side metadata re-resolution per
    * bench run. At 100 TB the same cost is the multi-minute listing §6
    * warns about; a session-lifetime relation cache is the in-engine
    * equivalent of the manifest/catalog metadata every table format
    * keeps. METADATA ONLY: the memo holds the logical plan (file index
    * + schema) — every execution still scans the parquet data; no rows
    * are cached (Bench's between-query scrub would drop them anyway).
    * Contract: a table's files are immutable for the session (true for
    * testdata; a mutating store would go through a catalog, not this
    * loader).
    */
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String), DataFrame]()

  /** Test visibility: memo entries held for `spark` (TablesSpec pins
    * that stopped sessions' entries are swept, not retained). */
  private[graft] def cachedFor(spark: SparkSession): Int = {
    var n = 0
    relationCache.keySet.forEach(k => if (k._1 eq spark) n += 1)
    n
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Self-cleaning (r18 verdict: the memo retained DataFrames — and
    // their InMemoryFileIndex — for STOPPED sessions, a leak in any
    // long-lived multi-session process, e.g. the 45-suite test JVM).
    // One O(#entries) sweep per load is free at the memo's size
    // (#sessions × #tables); no weak refs needed.
    sweepWhere(_.sparkContext.isStopped)
    relationCache.computeIfAbsent((spark, dir, name),
      _ => doLoad(spark, dir, name))
  }

  /** The stopped-session sweep, predicate-parameterized so TablesSpec
    * can pin the eviction mechanism (a test JVM cannot stop a real
    * SparkContext without killing every other suite's shared session).
    */
  private[graft] def sweepWhere(p: SparkSession => Boolean): Unit =
    relationCache.keySet.removeIf(k => p(k._1)): Unit

  private def doLoad(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Normalize whatever physical encoding the generator used for `ts` to
    // one logical type: session-TZ TIMESTAMP at µs precision. Three
    // encodings have been observed across testdata generations:
    //   - TIMESTAMP(NANOS): Spark surfaces it as long (nanosAsLong) —
    //     floor-divide to µs, same truncation DuckDB applies.
    //   - TIMESTAMP_MICROS isAdjustedToUTC=0: surfaces as TIMESTAMP_NTZ —
    //     in a UTC session the cast to TIMESTAMP is instant-identical.
    //   - TIMESTAMP (adjusted): already the target type; passthrough.
    df.schema.fields.foldLeft(df) {
      case (acc, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: float division of ~1.7e18 ns values
        // exceeds double's 53-bit mantissa and lands ±1 µs off.
        acc.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case (acc, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        acc.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case (acc, _) => acc
    }
  }
}
