package graft
package queries

import graft.functions.{TextAnalysis => TA, TextFunctions => TF}
import graft.operators.Sampling
import graft.queries.Common._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Family s: scans, sinks and storage layouts (JSONL/CSV/JSON round
  * trips, sized/z-order/bucketed/partitioned writes, ingest).
  */
object SourceQueries {

  /** The s14 pruned join (private[graft] so PlanAuditSpec can pin the
    * `dynamicpruning` partition filter on the fact scan): the fact
    * table lands hive-partitioned on its dim key, the dim carries a
    * selective NON-key filter, and Spark's dynamic partition pruning
    * turns the broadcast build side into a runtime partition filter on
    * the fact scan — only the partitions whose keys survive the dim
    * filter are read AT ALL. At 100 TB a date/tenant-partitioned fact
    * joined to a filtered dim reads 1/Nth of its files with zero code:
    * the layout (partitionBy at land time) is the entire contract.
    */
  private[graft] def s14PrunedJoin(s: SparkSession, dir: String,
                                   base: String): DataFrame = {
    val fact = s.read.parquet(s"$base/customer")
    val dim = t(s, dir, "nation")
      .filter(col("n_regionkey") === 2)
      // partition-directory read-back infers INT; cast the dim key to
      // match so the join condition stays ON the partition attribute
      // (a cast around it would block DPP insertion)
      .select(col("n_nationkey").cast("int").as("nk"), col("n_name"))
    fact.join(broadcast(dim), col("c_nationkey") === col("nk"))
  }

  val all: Seq[Query] = Seq(
    Query("s1_jsonl_roundtrip", (s, dir) => {
      // S1/S2/S3 — canonical JSONL sink → strict schema-on-read scan →
      // keyed last-wins merge (the reference's dict-overwrite ingest,
      // build_simple_dataset.py): two "ingest files" staged with an
      // explicit order column, revision wins. The oracle computes the
      // surviving revision directly from documents, so equality proves
      // the JSONL hop and the last-wins rule end-to-end.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val rev = d.withColumn("n_chars", col("n_chars") + 1000)
      val staged = d.withColumn("ord", lit(0L))
        .unionByName(rev.withColumn("ord", lit(1L)))
      val out = scratchDir("graft_s1")
      sources.Jsonl.writeCanonical(staged, out,
        Seq("doc_id", "lang", "n_chars", "ord"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, lang STRING, n_chars LONG, ord LONG")
      sources.Jsonl.readKeyedLastWins(
          sources.Jsonl.read(s, out, schema), col("ord"), col("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang, n_chars + 1000 AS n_chars
         FROM documents ORDER BY doc_id"""),

    Query("s6_nested_projection", (s, dir) => {
      // S6 — OpenAlex-style nested-ingestion projection
      // (openalex_scraper.py:42-55): authors from array<struct> rows
      // that HAVE an author sub-struct; fields_of_study from concepts
      // with level <= 1. The array-of-struct columns are built
      // deterministically from tokens (every 3rd-length author null,
      // level = len % 4) so both engines construct identical nests.
      val toks = TA.tokens(col("text"))
      val authorships = transform(slice(toks, 1, 4), tk =>
        struct(
          when(length(tk) % 3 =!= 0,
            struct(concat(lit("dr. "), tk).as("display_name"))).as("author"),
          length(tk).as("len")))
      val concepts = transform(slice(toks, 5, 6), tk =>
        struct(tk.as("display_name"), (length(tk) % 4).as("level")))
      val authors = transform(
        filter(authorships, a => a.getField("author").isNotNull),
        a => a.getField("author").getField("display_name"))
      val fields = transform(
        filter(concepts, c => c.getField("level") <= 1),
        c => c.getField("display_name"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          array_join(authors, ",").as("authors"),
          size(authors).cast("long").as("n_authors"),
          array_join(fields, ",").as("fields"),
          size(fields).cast("long").as("n_fields"))
        .orderBy(col("doc_id"))
    }, {
      // identical nested construction via struct_pack, then the same
      // list-of-struct filter/projection the Spark side runs.
      val toks = sqlTokens("text")
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         n AS (
           SELECT doc_id,
             list_transform(list_slice(tk, 1, 4), x -> struct_pack(
               author := CASE WHEN len(x) % 3 <> 0
                 THEN struct_pack(display_name := 'dr. ' || x) END,
               len := len(x))) AS authorships,
             list_transform(list_slice(tk, 5, 10), x -> struct_pack(
               display_name := x, level := len(x) % 4)) AS concepts
           FROM t)
         SELECT doc_id,
           -- DuckDB array_to_string of an empty list is NULL, Spark
           -- array_join is '' — coalesce to match.
           coalesce(array_to_string(list_transform(
             list_filter(authorships, a -> a.author IS NOT NULL),
             a -> a.author.display_name), ','), '') AS authors,
           len(list_filter(authorships, a -> a.author IS NOT NULL))::BIGINT
             AS n_authors,
           coalesce(array_to_string(list_transform(
             list_filter(concepts, c -> c.level <= 1),
             c -> c.display_name), ','), '') AS fields,
           len(list_filter(concepts, c -> c.level <= 1))::BIGINT AS n_fields
         FROM n ORDER BY doc_id"""
    }),

    Query("s7_inverted_index_roundtrip", (s, dir) => {
      // S7 — abstract reconstruction from an inverted index
      // (paper_collection.ipynb cell 10): build map<token, positions>
      // from the first 12 tokens, then invert it back to text with the
      // one-expression flatten/sort/join pipeline. Round-trip identity =
      // the oracle just computes the expected prefix directly.
      // Each stage materializes at a select boundary: lambda-spliced
      // subexpressions re-evaluate per element, so feeding the raw
      // tokenizer into the position lambdas would re-tokenize the text
      // ~|toks|² times per row (this was 18% of the sf0.1 bench).
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), slice(TA.tokens(col("text")), 1, 12).as("t12"))
      val idx = toks.select(col("doc_id"), map_from_entries(transform(
        array_distinct(col("t12")),
        tk => struct(tk, filter(sequence(lit(1), size(col("t12"))),
          i => element_at(col("t12"), i) === tk)))).as("idx"))
      val reconstructed = array_join(
        transform(
          array_sort(flatten(transform(
            map_entries(col("idx")),
            e => transform(e.getField("value"),
              p => struct(p.as("pos"), e.getField("key").as("w")))))),
          st => st.getField("w")),
        " ")
      idx.select(col("doc_id"), reconstructed.as("prefix_text"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id,
         array_to_string(list_slice(${sqlTokens("text")}, 1, 12), ' ')
           AS prefix_text
         FROM documents ORDER BY doc_id"""),

    Query("s8_csv_stats_roundtrip", (s, dir) => {
      // S8/S10 — stage-stats CSV sink + scan round-trip with the T19
      // score-string parse (data_quality_comparison.py:130-135 →
      // visualize_improvement.py:21-32): stats table → single headered
      // CSV → schema-on-read scan → "x/10" parse. The oracle computes
      // the stats straight from documents, so equality proves the CSV
      // hop is lossless (Java shortest-round-trip double formatting).
      val stats = t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          fround(avg(col("n_chars")) / 100.0, 2).as("score"))
        .select(col("lang"), col("n_docs"),
          concat(col("score").cast("string"), lit("/10")).as("score_str"))
      val out = scratchDir("graft_s8")
      sources.Reports.writeCsv(stats, out, Seq("lang", "n_docs", "score_str"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "lang STRING, n_docs LONG, score_str STRING")
      sources.Reports.readCsv(s, out, schema)
        .select(col("lang"), col("n_docs"),
          TF.scoreOfString(col("score_str")).as("score"))
        .orderBy(col("lang"))
    },
      """SELECT lang, count(*) AS n_docs,
           floor((avg(n_chars) / 100.0) * 1e2 + 0.5) / 1e2 AS score
         FROM documents GROUP BY lang ORDER BY lang"""),

    Query("s9_json_report_roundtrip", (s, dir) => {
      // S9 — JSON report sink → schema-pinned multiline scan round-trip
      // (enhance_scoring.py:603-609 pretty-JSON stats dump +
      // provenance_compliance.py:443-446): per-lang stats → pretty JSON
      // array on the driver → read back. The oracle computes the stats
      // directly from documents, so equality proves the JSON hop is
      // lossless (shortest-round-trip doubles).
      val stats = t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          fround(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy(col("lang"))
      val out = scratchDir("graft_s9") + "/report.json"
      sources.Reports.writeJsonReport(stats, out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "lang STRING, n_docs LONG, avg_chars DOUBLE")
      sources.Reports.readJsonReport(s, out, schema)
        .orderBy(col("lang"))
    },
      s"""SELECT lang, count(*) AS n_docs,
         ${sqlFround("avg(n_chars)", 4)} AS avg_chars
         FROM documents GROUP BY lang ORDER BY lang"""),

    Query("s11_sized_sink", (s, dir) => {
      // Size-targeted partitioned sink round-trip (beyond the
      // reference): documents land as lang=<v>/ parquet, each language
      // fanned across 4 writer buckets with a 1000-row hard cap per
      // file, then read back with schema-on-read — identity on the
      // data columns proves the layout machinery is lossless. File
      // counts and per-file caps are pinned in CompactionSpec.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang"))
      val out = scratchDir("graft_s11")
      sources.Compaction.writeSized(d, out, Seq("lang"), col("doc_id"),
        targetRows = 1000L, spread = 4)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, n_chars LONG, lang STRING")
      sources.Compaction.readSized(s, out, schema)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id"""),

    Query("s12_zorder", (s, dir) => {
      // Morton/Z-order value (beyond the reference): the write-time
      // clustering key behind 2D data skipping — each output file
      // covers a square-ish tile of the key space, so range predicates
      // on EITHER column prune on parquet min/max stats. The query
      // oracle-gates the bit interleave; CompactionSpec pins the
      // layout property (z-tiles vs 1D stripes).
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 1000)
        .select(col("l_orderkey"), col("l_partkey"),
          sources.Compaction.zValue(
            pmod(col("l_orderkey").cast("long"), lit(1L << 20)),
            pmod(col("l_partkey").cast("long"), lit(1L << 20))).as("z"))
        .orderBy(col("l_orderkey"), col("l_partkey"), col("z"))
    },
      s"""SELECT l_orderkey, l_partkey,
           list_sum(list_transform(generate_series(0, 19), b ->
             (((l_orderkey % 1048576) // (2 ** b)::BIGINT) % 2)
               * (2 ** (2 * b))::BIGINT +
             (((l_partkey % 1048576) // (2 ** b)::BIGINT) % 2)
               * (2 ** (2 * b + 1))::BIGINT))::BIGINT AS z
         FROM lineitem WHERE l_orderkey <= 1000
         ORDER BY l_orderkey, l_partkey, z"""),

    Query("s13_bucketed_join", (s, dir) => {
      // S13 — bucketed co-located join (sources.Buckets): orders and
      // customer land pre-hash-partitioned on the customer key into the
      // same bucket count, then the recurring fact-to-dim join plans
      // WITHOUT shuffling either side (PlanAuditSpec pins zero
      // exchanges on the merge path). The oracle replays the join from
      // the raw tables — the bucketed round trip must be lossless.
      val base = scratchDir("graft_s13")
      sources.Buckets.writeBucketed(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        "s13_orders", s"$base/orders", "o_custkey", 8)
      sources.Buckets.writeBucketed(
        t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
        "s13_customer", s"$base/customer", "c_custkey", 8)
      sources.Buckets.table(s, "s13_orders")
        .join(sources.Buckets.table(s, "s13_customer").hint("merge"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          fround(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("c_mktsegment"))
    },
      s"""SELECT c_mktsegment, count(*) AS n_orders,
           ${sqlFround("sum(o_totalprice)", 2)} AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    Query("s14_dpp_prune", (s, dir) => {
      // S14 — dynamic partition pruning over a hive-partitioned landing
      // (beyond the reference): customer lands partitioned by its dim
      // key, nation arrives filtered on a NON-key attribute, and the
      // recurring fact-to-dim join reads ONLY the partitions the dim
      // filter admits — the broadcast build side doubles as a runtime
      // partition filter (PlanAuditSpec pins `dynamicpruning` in the
      // fact scan's PartitionFilters). The oracle replays the join from
      // the raw tables: the pruned read must be lossless.
      val base = scratchDir("graft_s14")
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
        .write.mode("overwrite").partitionBy("c_nationkey")
        .parquet(s"$base/customer")
      s14PrunedJoin(s, dir, base)
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          fround(sum(col("c_acctbal")), 2).as("sum_bal"))
        .orderBy(col("n_name"))
    },
      s"""SELECT n_name, count(*) AS n_cust,
           ${sqlFround("sum(c_acctbal)", 2)} AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE n_regionkey = 2
         GROUP BY n_name ORDER BY n_name"""),

    Query("s15_footer_stats", (s, dir) => {
      // S15 — metadata-only table stats (beyond the reference): with the
      // DSv2 parquet reader + aggregate pushdown, COUNT/MIN/MAX compile
      // to a footer read — zero data pages touched (the spec pins
      // `PushedAggregation` in the scan). The 100 TB use: row-count /
      // value-range sanity gates over a landed corpus at metadata cost.
      // min/max surface RAW stored values (no derived floats), so no
      // rounding is needed for oracle parity.
      sources.FooterStats.aggregate(s, s"$dir/lineitem.parquet", Seq(
        count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price")))
    },
      """SELECT count(*) AS n_rows,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
         FROM lineitem"""),

    Query("s16_dynamic_overwrite", (s, dir) => {
      // S16 — idempotent partition restatement (beyond the reference):
      // the daily rollup lands partitioned by day; when one day's input
      // is corrected, ONLY that day is recomputed and re-landed with
      // partitionOverwriteMode=dynamic — the write replaces exactly the
      // partitions present in the restated frame and leaves every other
      // day's files untouched. At 100 TB this is the late-data /
      // backfill contract: restating one day never rewrites (or even
      // reads) the other 364. The oracle composes base-minus-day plus
      // the restated day relationally.
      val store = s"${scratchDir("graft_s16")}/daily"
      val ev = t(s, dir, "events").select(
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("value"), col("user_id"))
      def rollup(df: DataFrame): DataFrame =
        df.groupBy(col("day"), col("event_type"))
          .agg(count(lit(1)).as("n"), fround(sum(col("value")), 2).as("sum_v"))
      rollup(ev).write.mode("overwrite").partitionBy("day").parquet(store)
      // the restatement: the earliest day's feed was bad — recompute it
      // from the corrected subset (even-user events only). The day never
      // touches the driver: the restated frame carries exactly one day
      // and dynamic overwrite replaces exactly that partition.
      val d0 = ev.groupBy().agg(min(col("day")).as("day"))
      rollup(ev.join(broadcast(d0), "day")
          .filter(col("user_id") % 2 === 0))
        .write.mode("overwrite").partitionBy("day")
        .option("partitionOverwriteMode", "dynamic").parquet(store)
      s.read.parquet(store)
        .select(col("day").cast("string").as("day"), col("event_type"),
          col("n"), col("sum_v"))
        .orderBy(col("day"), col("event_type"))
    },
      s"""WITH ev AS (
           SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day,
             event_type, value, user_id
           FROM events),
         d0 AS (SELECT min(day) AS day FROM ev),
         base AS (
           SELECT day, event_type, count(*) AS n,
             ${sqlFround("sum(value)", 2)} AS sum_v
           FROM ev GROUP BY day, event_type),
         restated AS (
           SELECT ev.day, event_type, count(*) AS n,
             ${sqlFround("sum(value)", 2)} AS sum_v
           FROM ev JOIN d0 ON ev.day = d0.day
           WHERE user_id % 2 = 0
           GROUP BY ev.day, event_type)
         SELECT * FROM base WHERE day <> (SELECT day FROM d0)
         UNION ALL SELECT * FROM restated
         ORDER BY day, event_type"""),

    Query("s17_schema_evolution", (s, dir) => {
      // S17 — schema evolution on read (beyond the reference): an early
      // batch lands WITHOUT the quality column, a later batch adds it;
      // mergeSchema unifies the footer schemas at read time and the old
      // files surface NULLs — no rewrite of landed data, ever. The q
      // values are dyadic (k/128) so sums stay IEEE-exact and the
      // cross-engine avg rounds identically. At 100 TB, adding a column
      // to a corpus must cost zero IO on the history; this pins that
      // contract end-to-end through an aggregate.
      val store = s"${scratchDir("graft_s17")}/docs"
      val d = t(s, dir, "documents")
      d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(store)
      d.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("lang"),
          ((col("doc_id") % 128).cast("double") / lit(128.0)).as("q"))
        .write.mode("append").parquet(store)
      s.read.option("mergeSchema", "true").parquet(store)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), count(col("q")).as("n_scored"),
          fround(avg(col("q")), 6).as("avg_q"))
        .orderBy(col("lang"))
    },
      s"""WITH u AS (
           SELECT doc_id, lang, NULL::DOUBLE AS q
           FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id, lang, (doc_id % 128) / 128.0 AS q
           FROM documents WHERE doc_id % 3 <> 0)
         SELECT lang, count(*) AS n_docs, count(q) AS n_scored,
           ${sqlFround("avg(q)", 6)} AS avg_q
         FROM u GROUP BY lang ORDER BY lang"""),

    Query("s18_paged_api_ingest", (s, dir) => {
      // S18 — the S4/S5 paged-API source driven END TO END into the
      // oracle gate: the reference's scraper loop (fetch page →
      // extract the record array → advance the offset → stop on a dry
      // page, with bounded retries) runs for real through
      // HttpJson.readPaged — pagination, JSON-pointer extraction,
      // retry, explicit-schema parse — against a fetcher serving page
      // bodies from LOCAL FILES the query derives from the documents
      // table (the l1-l5 mock precedent: the record shape flows
      // through the real code path; only the socket is stubbed, since
      // the sandbox has no network). One page's first fetch throws an
      // injected transient failure, so the retry path is exercised in
      // the oracle-checked run too. The oracle replays the same
      // records relationally — a lost page, a dropped record, or a
      // mis-bound column is a hash red, which closes the "S4/S5 are
      // spec-only" gap. API ingestion is driver-bound by nature
      // (rate-limited endpoints, sequential pagination — the scraper
      // seat); the distributed pipeline starts at the returned frame.
      val pageSize = 50
      val src = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("lang"),
          TA.tokenCount(col("text")).cast("long").as("n_tok"))
        .orderBy(col("doc_id"))
        .collect()
      val base = scratchDir("graft_s18")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base))
      def writePage(offset: Int, recs: Seq[String]): Unit =
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$base/page_at_$offset.json"),
          recs.mkString("""{"data":[""", ",", "]}")): Unit
      src.grouped(pageSize).zipWithIndex.foreach { case (recs, p) =>
        writePage(p * pageSize, recs.toSeq.map(r =>
          s"""{"id":${r.getLong(0)},"lang":"${r.getString(1)}",""" +
            s""""n_tok":${r.getLong(2)}}"""))
      }
      writePage(src.length, Seq.empty) // the dry terminal page
      val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
      val fileFetcher = new sources.HttpJson.Fetcher {
        def fetch(url: String): String = {
          if (url.endsWith(s"page_at_$pageSize.json") &&
              failedOnce.compareAndSet(false, true))
            throw new java.io.IOException("injected transient failure")
          java.nio.file.Files.readString(java.nio.file.Paths.get(url))
        }
      }
      sources.HttpJson.readPaged(s,
          off => s"$base/page_at_$off.json",
          org.apache.spark.sql.types.StructType.fromDDL(
            "id LONG, lang STRING, n_tok LONG"),
          fetcher = fileFetcher, sleep = _ => ())
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("lang"))
    },
      // the paged-scraper records replayed relationally: same subset,
      // same token counts — pagination/parse drift on the Spark side
      // (lost page, dropped record, mis-bound column) breaks the hash
      s"""WITH src AS (SELECT doc_id AS id, lang,
             len(${sqlTokens("text")})::BIGINT AS n_tok
           FROM documents WHERE doc_id < 200)
         SELECT lang, count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens,
           min(id) AS min_id, max(id) AS max_id
         FROM src GROUP BY lang ORDER BY lang"""),

    Query("s19_incremental_listing", (s, dir) => {
      // S19 — manifest-driven incremental ingest (sources.FileManifest;
      // beyond the reference): a landing root accrues committed drops,
      // and each tick reads ONLY the drops the manifest hasn't
      // absorbed — the file-level watermark that keeps a daily tick
      // O(new data) against an ever-growing landing history. The query
      // runs three ticks: day 1 lands two drops (tick 1 absorbs both);
      // day 2 lands one committed drop AND one TORN drop (its commit
      // marker deleted — a crashed writer) which must stay
      // invisible (tick 2 absorbs exactly one — if the gate broke,
      // n_drops and the row counts double and the oracle goes red);
      // tick 3 finds nothing and reports an explicit empty row. The
      // oracle replays each tick's stats from the same hash split.
      val d = t(s, dir, "documents")
      val base = scratchDir("graft_s19")
      val landing = s"$base/landing"
      val man = s"$base/manifest"
      val inB1 = Sampling.keyHash(col("doc_id"), "s19") <
        Sampling.threshold(0.5)
      val b1 = d.filter(inB1).select(col("doc_id"), col("n_chars"))
      val b2 = d.filter(!inB1).select(col("doc_id"), col("n_chars"))
      def land(b: DataFrame, name: String): Unit =
        b.coalesce(1).write.mode("overwrite").parquet(s"$landing/$name")
      def tick(id: Long): DataFrame = {
        val nd = sources.FileManifest.newDrops(s, landing, man)
        val row =
          if (nd.isEmpty)
            s.range(1).select(lit(id).as("tick"), lit(0L).as("n_drops"),
              lit(0L).as("n_rows"), lit(0L).as("sum_chars"))
          else
            sources.FileManifest.readDrops(s, landing, nd)
              .agg(count(lit(1)).as("n_rows"),
                sum(col("n_chars")).as("sum_chars"))
              .select(lit(id).as("tick"),
                lit(nd.size.toLong).as("n_drops"), col("n_rows"),
                col("sum_chars"))
        // materialize BEFORE recording: the returned plan must not
        // re-list the landing after later ticks move the manifest. The
        // report is one row of four longs, so it returns as a literal
        // frame on ONE partition: the union of the three ticks stays
        // one partition and the orderBy needs no exchange.
        val v = row.collect()(0)
        def l(i: Int) = (if (v.isNullAt(i)) lit(null) else lit(v.getLong(i)))
          .cast("long")
        sources.FileManifest.record(s, man, nd, id)
        s.range(0, 1, 1, 1).select(l(0).as("tick"), l(1).as("n_drops"),
          l(2).as("n_rows"), l(3).as("sum_chars"))
      }
      land(b1.filter(col("doc_id") % 2 === 0), "d1_a")
      land(b1.filter(col("doc_id") % 2 =!= 0), "d1_b")
      val t1 = tick(1L)
      land(b2, "d2_a")
      land(b2, "d2_torn")
      val hf = new org.apache.hadoop.fs.Path(landing)
        .getFileSystem(s.sessionState.newHadoopConf())
      hf.delete(
        new org.apache.hadoop.fs.Path(s"$landing/d2_torn/_SUCCESS"),
        false): Unit
      val t2 = tick(2L)
      val t3 = tick(3L)
      t1.unionByName(t2).unionByName(t3).orderBy(col("tick"))
    }, {
      // each tick's stats replayed from the same hash split: tick 1 =
      // both day-1 drops, tick 2 = the one COMMITTED day-2 drop (the
      // torn drop would double n_drops/n_rows), tick 3 = the explicit
      // empty row
      val keep = s"('0x' || substr(md5('s19:' || doc_id::VARCHAR), 1, 7))" +
        s"::BIGINT < ${Sampling.threshold(0.5)}"
      s"""WITH b1 AS (SELECT doc_id, n_chars FROM documents WHERE $keep),
         b2 AS (SELECT doc_id, n_chars FROM documents WHERE NOT ($keep))
         SELECT 1::BIGINT AS tick, 2::BIGINT AS n_drops,
           count(*)::BIGINT AS n_rows, sum(n_chars)::BIGINT AS sum_chars
         FROM b1
         UNION ALL
         SELECT 2::BIGINT, 1::BIGINT, count(*)::BIGINT,
           sum(n_chars)::BIGINT
         FROM b2
         UNION ALL
         SELECT 3::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT
         ORDER BY tick"""
    }),

    Query("s20_gzip_roundtrip", (s, dir) => {
      // S20 — compressed-payload ingest (beyond the reference; the
      // WARC/WET shape — Common Crawl text ships as gzip members):
      // every doc's text compresses through the REAL JDK zlib
      // (expressions.GzipBytes) and decodes back
      // (expressions.GunzipText), and all downstream stats derive
      // from the DECODED text — so the oracle, which computes the
      // same stats from the raw column, proves the full
      // deflate→inflate→UTF-8 hop byte-exactly for every row. The
      // compressed size itself is never shipped to the oracle (zlib
      // output bytes are a JVM implementation detail; what decodes
      // from them is not). Scale shape: one scan-fused projection per
      // row, executor-local bytes, codegen'd static calls.
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.expressions.GunzipText(
            graft.expressions.GzipBytes(col("text"))).as("dt"))
        .select(col("doc_id"),
          length(col("dt")).cast("long").as("n_chars"),
          TA.tokenCount(col("dt")).cast("long").as("n_tokens"),
          md5(col("dt")).as("h"))
        .orderBy(col("doc_id"))
    },
      // stats straight off the raw column: equality proves the Spark
      // side's deflate→inflate→UTF-8 hop reproduced every byte
      s"""SELECT doc_id, length(text)::BIGINT AS n_chars,
           len(${sqlTokens("text")})::BIGINT AS n_tokens,
           md5(text) AS h
         FROM documents ORDER BY doc_id""")
  )
}
