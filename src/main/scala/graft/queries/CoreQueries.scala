package graft
package queries

import graft.functions.{TextFunctions => TF}
import graft.queries.Common._
import org.apache.spark.sql.functions._

/** Families q/j/e: TPC-H-shaped aggregations and joins (pricing
  * summary, 5-way enrich join, anti/as-of/range/salted joins) and
  * semi-structured (JSON/variant) property extraction.
  */
object CoreQueries {

  val all: Seq[Query] = Seq(
    Query("q1_pricing_summary", (s, dir) => {
      // TPC-H Q1 shape: the reference's per-stage stats rollup (A1/A2)
      // over the biggest fact table. Partial agg map-side, 6 output rows.
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          fround(sum(col("l_quantity")), 2).as("sum_qty"),
          fround(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          fround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          fround(avg(col("l_quantity")), 6).as("avg_qty"),
          fround(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
         floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty,
         floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS sum_base_price,
         floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS sum_disc_price,
         floor((avg(l_quantity)) * 1e6 + 0.5) / 1e6 AS avg_qty,
         floor((avg(l_discount)) * 1e6 + 0.5) / 1e6 AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    Query("q2_doc_quality_stats", (s, dir) => {
      // A1 per-stage quality stats re-expressed over `documents`: counts,
      // %-long-docs, avg char/word lengths (avg over qualifying rows only,
      // mirroring data_quality_comparison.py:67's non-empty-only average).
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          fround(avg(when(col("n_chars") >= 200, 1.0).otherwise(0.0)) * 100, 4).as("pct_long"),
          fround(avg(when(col("n_chars") > 0, col("n_chars"))), 4).as("avg_chars"),
          fround(avg(TF.wordCount(col("text"))), 4).as("avg_words"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))
    },
      """SELECT lang,
         count(*) AS n_docs,
         floor((avg(CASE WHEN n_chars >= 200 THEN 1.0 ELSE 0.0 END) * 100) * 1e4 + 0.5) / 1e4 AS pct_long,
         floor((avg(CASE WHEN n_chars > 0 THEN n_chars END)) * 1e4 + 0.5) / 1e4 AS avg_chars,
         floor((avg(len(regexp_extract_all(text, '\w+')))) * 1e4 + 0.5) / 1e4 AS avg_words,
         count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang"""),

    Query("q3_enrich_5way_join", (s, dir) => {
      // J1 — the reference's 5-way left-outer enrich merge
      // (bulid_final_dataset.py:145-333) as a star join; small dims are
      // broadcast (auto under the 64 MB threshold), fact never re-shuffles.
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"), "left")
        .join(c, col("o_custkey") === col("c_custkey"), "left")
        .join(n, col("c_nationkey") === col("n_nationkey"), "left")
        .join(r, col("n_regionkey") === col("r_regionkey"), "left")
        .groupBy(coalesce(col("r_name"), lit("UNKNOWN")).as("region"),
          coalesce(col("n_name"), lit("UNKNOWN")).as("nation"))
        .agg(
          fround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("region"), col("nation"))
    },
      """SELECT coalesce(r_name, 'UNKNOWN') AS region,
         coalesce(n_name, 'UNKNOWN') AS nation,
         floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS revenue,
         count(DISTINCT o_orderkey) AS n_orders,
         count(*) AS n_lines
         FROM lineitem
         LEFT JOIN orders ON l_orderkey = o_orderkey
         LEFT JOIN customer ON o_custkey = c_custkey
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    Query("q4_anti_join", (s, dir) => {
      // P5/J2 — checkpoint anti-join (enhance_fields_of_study.py:347-356):
      // rows not yet present in the processed set.
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          fround(sum(col("c_acctbal")), 2).as("sum_acctbal"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, count(*) AS n_customers,
         floor((sum(c_acctbal)) * 1e2 + 0.5) / 1e2 AS sum_acctbal
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    Query("q5_topk", (s, dir) => {
      // R11 — global top-k by score (quality_scoring.py:571-581); Catalyst
      // plans TakeOrderedAndProject: no full sort, no single-node shuffle.
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    },
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),

    Query("j1_coverage_join", (s, dir) => {
      // J1 — enrich-merge shape: left joins with coalesce defaults plus
      // per-side coverage counters in the same aggregate
      // (build_simple_dataset.py:149-250).
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val bigLines = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 40)
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("big_qty"))
      o.join(c, col("o_custkey") === col("c_custkey"), "left")
        .join(bigLines, col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          fround(avg(when(col("c_custkey").isNotNull, 1.0).otherwise(0.0)) * 100, 4)
            .as("pct_with_customer"),
          fround(avg(when(col("big_qty").isNotNull, 1.0).otherwise(0.0)) * 100, 4)
            .as("pct_with_big_lines"),
          fround(sum(coalesce(col("big_qty"), lit(0.0))), 2).as("sum_big_qty"))
        .orderBy(col("o_orderstatus"))
    },
      """WITH bl AS (
           SELECT l_orderkey, sum(l_quantity) AS big_qty
           FROM lineitem WHERE l_quantity >= 40 GROUP BY 1)
         SELECT o_orderstatus, count(*) AS n_orders,
           floor((avg(CASE WHEN c_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END) * 100) * 1e4 + 0.5) / 1e4
             AS pct_with_customer,
           floor((avg(CASE WHEN big_qty IS NOT NULL THEN 1.0 ELSE 0.0 END) * 100) * 1e4 + 0.5) / 1e4
             AS pct_with_big_lines,
           floor((sum(coalesce(big_qty, 0.0))) * 1e2 + 0.5) / 1e2 AS sum_big_qty
         FROM orders
         LEFT JOIN customer ON o_custkey = c_custkey
         LEFT JOIN bl ON o_orderkey = bl.l_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    Query("j2_asof_join", (s, dir) => {
      // As-of (backward, inclusive) join: every click picks the user's
      // latest purchase at-or-before it. Joins.asofJoin's union + ONE
      // hash-shuffle running-last plan vs DuckDB's native ASOF LEFT
      // JOIN. The right side pre-aggregates per (user, ts) to honor the
      // unique-(key, time) contract at any SF; 141 clicks precede their
      // user's first purchase at sf0.01, exercising the NULL path.
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"))
      val rates = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("rts"))
        .agg(max(col("value")).as("rate"))
      graft.operators.Joins.asofJoin(clicks, rates, "user_id", "tus", "rts")
        .orderBy(col("user_id"), col("tus"), col("event_id"))
    },
      """WITH clicks AS (
           SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS tus
           FROM events WHERE event_type = 'click'),
         rates AS (
           SELECT user_id, epoch_us(ts::TIMESTAMP) AS rts, max(value) AS rate
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.user_id, c.event_id, c.tus, r.rts, r.rate
         FROM clicks c ASOF LEFT JOIN rates r
           ON c.user_id = r.user_id AND c.tus >= r.rts
         ORDER BY c.user_id, c.tus, c.event_id"""),

    Query("j3_range_join", (s, dir) => {
      // Interval-containment join: clicks within ±4 h of a purchase by
      // the same user. Joins.rangeJoin buckets the time axis into 1 h
      // cells so the pairing is a plain equi-join on (user, cell) with
      // an exact bounds re-check — no theta-join, and each ±4 h window
      // explodes into ~9 cells.
      val ev = t(s, dir, "events")
      val halfSpan = 4L * 3600L * 1000000L
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("tus"))
      val wins = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("win_id"),
          (unix_micros(col("ts")) - halfSpan).as("start_us"),
          (unix_micros(col("ts")) + halfSpan).as("end_us"))
      graft.operators.Joins.rangeJoin(clicks, "tus", wins,
          "start_us", "end_us", "user_id", cellWidth = 3600L * 1000000L)
        .orderBy(col("user_id"), col("click_id"), col("win_id"))
    },
      """WITH clicks AS (
           SELECT user_id, event_id AS click_id, epoch_us(ts::TIMESTAMP) AS tus
           FROM events WHERE event_type = 'click'),
         wins AS (
           SELECT user_id, event_id AS win_id,
             epoch_us(ts::TIMESTAMP) - 14400000000 AS start_us,
             epoch_us(ts::TIMESTAMP) + 14400000000 AS end_us
           FROM events WHERE event_type = 'purchase')
         SELECT c.user_id, c.click_id, c.tus, w.win_id, w.start_us, w.end_us
         FROM clicks c JOIN wins w
           ON c.user_id = w.user_id
           AND c.tus >= w.start_us AND c.tus <= w.end_us
         ORDER BY c.user_id, c.click_id, w.win_id"""),

    Query("j4_asof_join_bucketed", (s, dir) => {
      // Same as-of contract as j2 through the HOT-KEY path: per-bucket
      // running last + summary carry, so no task ever sorts a whole
      // user's timeline. Checked against the identical DuckDB ASOF
      // oracle — the two operator shapes must agree exactly.
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"))
      val rates = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("rts"))
        .agg(max(col("value")).as("rate"))
      graft.operators.Joins.asofJoinBucketed(clicks, rates, "user_id",
          "tus", "rts", bucketWidth = 6L * 3600L * 1000000L)
        .orderBy(col("user_id"), col("tus"), col("event_id"))
    },
      """WITH clicks AS (
           SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS tus
           FROM events WHERE event_type = 'click'),
         rates AS (
           SELECT user_id, epoch_us(ts::TIMESTAMP) AS rts, max(value) AS rate
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.user_id, c.event_id, c.tus, r.rts, r.rate
         FROM clicks c ASOF LEFT JOIN rates r
           ON c.user_id = r.user_id AND c.tus >= r.rts
         ORDER BY c.user_id, c.tus, c.event_id"""),

    Query("j5_salted_join", (s, dir) => {
      // J5 — hot-key salted join, oracle-exercised (JoinsSpec pins
      // equality with the plain join; this runs the REAL operator over
      // the parquet tables): every third event collapses onto key 1 —
      // the one-customer-dominates skew that strands a plain shuffle
      // join's hot partition on a single task. saltedJoin spreads the
      // hot key across 8 (key, salt) buckets; the dim side replicates
      // 8×. The rollup checksum is an integer sum — order-exact.
      val ev = t(s, dir, "events").select(
        when(col("event_id") % 3 === 0, lit(1L))
          .otherwise(col("user_id")).as("key"),
        col("event_id"))
      val dim = t(s, dir, "customer").select(
        col("c_custkey").as("key"), col("c_mktsegment"))
      graft.operators.Joins.saltedJoin(ev, dim, "key", salts = 8,
          col("event_id"))
        .groupBy(col("c_mktsegment")).agg(
          count(lit(1)).as("n"),
          sum(col("event_id") % 97).as("chk"))
        .orderBy(col("c_mktsegment"))
    },
      // the salt is pure mechanics — the oracle replays the JOIN
      """WITH e AS (
           SELECT CASE WHEN event_id % 3 = 0 THEN 1
                       ELSE user_id END AS key, event_id
           FROM events),
         d AS (SELECT c_custkey AS key, c_mktsegment FROM customer)
         SELECT c_mktsegment, count(*)::BIGINT AS n,
           sum(event_id % 97)::BIGINT AS chk
         FROM e JOIN d USING (key)
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    Query("e1_json_props", (s, dir) => {
      // Semi-structured column parsing: events.props is a JSON string;
      // from_json with an EXPLICIT schema (never schema_of_json in a
      // production path) extracts typed fields that aggregate like any
      // column — parse happens inside the scan projection.
      t(s, dir, "events")
        .withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          fround(avg(col("k")), 6).as("avg_k"),
          max(col("k")).as("max_k"),
          sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high"))
        .orderBy(col("event_type"))
    }, {
      // NB: the JSON path lives in a plain literal (the $$-escape only
      // applies to the s-string's own literal parts) — write it once.
      val jk = "json_extract(props, '$.k')::INT"
      s"""SELECT event_type, count(*) AS n,
         ${sqlFround(s"avg($jk)", 6)} AS avg_k,
         max($jk) AS max_k,
         sum(CASE WHEN $jk > 50 THEN 1 ELSE 0 END)::BIGINT
           AS n_high
         FROM events GROUP BY event_type ORDER BY event_type"""
    }),

    Query("e2_variant_props", (s, dir) => {
      // Semi-structured, Spark-4-native: parse the JSON string ONCE into
      // a Variant (binary, lazily navigable) and extract typed fields
      // with variant_get — the production path when the schema is
      // open-ended (from_json in e1 needs it closed). try_* variants
      // keep ANSI mode from failing the scan on a malformed row or a
      // missing path.
      t(s, dir, "events")
        .withColumn("v", try_parse_json(col("props")))
        .select(col("event_type"),
          try_variant_get(col("v"), "$.k", "int").as("k"),
          try_variant_get(col("v"), "$.missing", "int").as("miss"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          fround(avg(col("k")), 6).as("avg_k"),
          min(col("k")).as("min_k"),
          sum(when(col("miss").isNull, 1L).otherwise(0L)).as("n_missing"))
        .orderBy(col("event_type"))
    }, {
      val jk = "json_extract(props, '$.k')::INT"
      s"""SELECT event_type, count(*) AS n,
         ${sqlFround(s"avg($jk)", 6)} AS avg_k,
         min($jk) AS min_k,
         sum(CASE WHEN json_extract(props, '$$.missing') IS NULL
           THEN 1 ELSE 0 END)::BIGINT AS n_missing
         FROM events GROUP BY event_type ORDER BY event_type"""
    })
  )
}
