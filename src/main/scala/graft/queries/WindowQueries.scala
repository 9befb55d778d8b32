package graft
package queries

import graft.operators.Decontam
import graft.queries.Common._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Family w: window functions, sessionization and drift over events.
  */
object WindowQueries {

  val all: Seq[Query] = Seq(
    Query("w1_running_window", (s, dir) => {
      // Window suite (the engine's survivor-selection primitive, §2.11):
      // row_number + lag + running sum per user over event time.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .filter(col("user_id") < 20)
        .select(
          col("user_id"), col("event_id"),
          row_number().over(w).as("rn"),
          fround(coalesce(lag(col("value"), 1).over(w), lit(0.0)), 2).as("prev_value"),
          fround(sum(col("value")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_value"))
        .orderBy(col("user_id"), col("rn"))
    },
      """SELECT user_id, event_id,
         row_number() OVER w AS rn,
         floor((coalesce(lag(value, 1) OVER w, 0.0)) * 1e2 + 0.5) / 1e2 AS prev_value,
         floor((sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1e2 + 0.5) / 1e2 AS running_value
         FROM events WHERE user_id < 20
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, rn"""),

    Query("w2_sessionization", (s, dir) => {
      // Gap-based sessionization via lag + running session-break sum —
      // the oracle-checkable batch twin of streaming.Streams
      // sessionWindowAgg / sessionizeStateful (30 min gap).
      graft.streaming.Streams.sessionizeBatch(t(s, dir, "events"), 1800)
        .orderBy(col("user_id"), col("session_id"))
    },
      s"""WITH m AS (
           SELECT user_id, event_id, value, epoch_us(ts::TIMESTAMP) AS m
           FROM events),
         f AS (
           SELECT user_id, event_id, value, m,
             CASE WHEN lag(m) OVER w IS NULL THEN 1
               WHEN m - lag(m) OVER w > 1800 * 1000000 THEN 1
               ELSE 0 END AS new_sess
           FROM m
           WINDOW w AS (PARTITION BY user_id ORDER BY m, event_id)),
         s AS (
           SELECT user_id, event_id, value, m,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY m, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
           FROM f)
         SELECT user_id, session_id, count(*) AS n_events,
           min(m) AS start_us, max(m) AS end_us,
           ${sqlFround("sum(value)", 2)} AS sum_value
         FROM s GROUP BY user_id, session_id
         ORDER BY user_id, session_id"""),

    Query("w3_session_window_batch", (s, dir) => {
      // Built-in session_window run in BATCH mode — cross-validates
      // Spark's gap-based session assignment against the relational
      // lag+cumsum oracle (same sessions, session end = last event +
      // gap by session_window's definition).
      graft.streaming.Streams.sessionWindowAgg(
          t(s, dir, "events"), "30 minutes")
        .select(col("user_id"),
          unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("start_us"))
    },
      s"""WITH m AS (
           SELECT user_id, event_id, value, epoch_us(ts::TIMESTAMP) AS m
           FROM events),
         f AS (
           SELECT user_id, event_id, value, m,
             -- session_window merges only OVERLAPPING [t, t+gap) windows:
             -- a gap of exactly `gap` starts a new session (>=, not >)
             CASE WHEN lag(m) OVER w IS NULL THEN 1
               WHEN m - lag(m) OVER w >= 1800 * 1000000 THEN 1
               ELSE 0 END AS new_sess
           FROM m
           WINDOW w AS (PARTITION BY user_id ORDER BY m, event_id)),
         s AS (
           SELECT user_id, event_id, value, m,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY m, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM f)
         SELECT user_id, min(m) AS start_us,
           max(m) + 1800 * 1000000 AS end_us,
           count(*) AS n_events, ${sqlFround("sum(value)", 2)} AS sum_value
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, start_us"""),

    Query("w4_quality_drift", (s, dir) => {
      // Batch twin of the streaming corpus-quality drift monitor
      // (streaming.Streams.qualityDrift — same function, batch frame):
      // per event-time hour, doc volume, mean ta2 quality, mean
      // tokens, sub-floor share. Timestamps synthesize as
      // doc_id minutes past a fixed origin so the oracle replays them.
      val docs = t(s, dir, "documents").withColumn("ts",
        expr("timestampadd(MINUTE, doc_id, TIMESTAMP '2024-01-01 00:00:00')"))
      graft.streaming.Streams.qualityDrift(
          docs, col("ts"), col("text"),
          windowLen = "1 hour", qualityFloor = 0.5)
        .orderBy(col("window_start"))
    }, {
      s"""${sqlQualityCtes()},
         q AS (
           SELECT TIMESTAMP '2024-01-01 00:00:00'
               + s.doc_id * INTERVAL 1 MINUTE AS ts,
             $sqlQualityExpr AS qv, s.n_tokens AS ntok
           FROM s)
         SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           count(*) AS n_docs,
           floor(avg(qv) * 100.0 + 0.5) / 100.0 AS avg_quality,
           floor(avg(ntok * 1.0) * 100.0 + 0.5) / 100.0 AS avg_tokens,
           floor(avg(CASE WHEN qv < 0.5 THEN 1.0 ELSE 0.0 END) * 100.0 + 0.5)
             / 100.0 AS low_quality_share
         FROM q GROUP BY 1 ORDER BY window_start"""
    }),

    Query("w5_gated_drift", (s, dir) => {
      // Batch twin of the streaming g2 front half (Streams
      // .gatedCorpusDrift): benchmark decontamination + quality gate +
      // drift monitor — the pipeline a corpus ingest runs continuously.
      // Same function, batch frame; StreamFileSpec pins stream == batch
      // over the same closed input.
      val docs = t(s, dir, "documents")
      val evalGrams = Decontam.evalGramHashes(
        docs.filter(col("doc_id") < 50), col("text"), 5)
      val train = docs.filter(col("doc_id") >= 50).withColumn("ts",
        expr("timestampadd(MINUTE, doc_id, TIMESTAMP '2024-01-01 00:00:00')"))
      graft.streaming.Streams.gatedCorpusDrift(
          train, col("ts"), col("text"), evalGrams, ngram = 5,
          maxContamination = 0.0, qualityGate = 0.55,
          windowLen = "1 hour", qualityFloor = 0.5)
        .orderBy(col("window_start"))
    }, {
      s"""${sqlQualityCtes()},
         $sqlDecontamCtes,
         kept AS (
           SELECT s.doc_id, $sqlQualityExpr AS qv, s.n_tokens AS ntok
           FROM s
           WHERE s.doc_id >= 50
             AND s.doc_id NOT IN (SELECT doc_id FROM bad)
             AND $sqlQualityExpr >= 0.55),
         q AS (
           SELECT TIMESTAMP '2024-01-01 00:00:00'
               + doc_id * INTERVAL 1 MINUTE AS ts, qv, ntok
           FROM kept)
         SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           count(*) AS n_docs,
           floor(avg(qv) * 100.0 + 0.5) / 100.0 AS avg_quality,
           floor(avg(ntok * 1.0) * 100.0 + 0.5) / 100.0 AS avg_tokens,
           floor(avg(CASE WHEN qv < 0.5 THEN 1.0 ELSE 0.0 END) * 100.0 + 0.5)
             / 100.0 AS low_quality_share
         FROM q GROUP BY 1 ORDER BY window_start"""
    }),

    Query("w6_interval_join", (s, dir) => {
      // Batch twin of the watermarked stream-stream interval join
      // (Streams.intervalJoin; StreamFileSpec pins stream == batch
      // over the same closed input): even events pair with the same
      // user's odd events landing within the next 10 minutes, rolled
      // up per user with exact integer gap stats.
      val e = t(s, dir, "events")
      val a = e.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("user_id").as("a_user"), col("ts").as("a_ts"))
      val b = e.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("user_id").as("b_user"), col("ts").as("b_ts"))
      graft.streaming.Streams.intervalJoin(a, b,
          "a_user = b_user", "a_ts", "b_ts", "10 MINUTES")
        .select(col("a_user").as("user_id"),
          (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("gap")).as("sum_gap_us"),
          min(col("gap")).as("min_gap_us"), max(col("gap")).as("max_gap_us"))
        .orderBy(col("user_id"))
    },
      """WITH a AS (
           SELECT user_id, ts AS a_ts FROM events WHERE event_id % 2 = 0),
         b AS (
           SELECT user_id, ts AS b_ts FROM events WHERE event_id % 2 = 1),
         j AS (
           SELECT a.user_id,
             epoch_us(b.b_ts::TIMESTAMP) - epoch_us(a.a_ts::TIMESTAMP) AS gap
           FROM a JOIN b ON a.user_id = b.user_id
             AND b.b_ts >= a.a_ts
             AND b.b_ts <= a.a_ts + INTERVAL 10 MINUTE)
         SELECT user_id, count(*) AS n_pairs,
           sum(gap)::BIGINT AS sum_gap_us,
           min(gap)::BIGINT AS min_gap_us,
           max(gap)::BIGINT AS max_gap_us
         FROM j GROUP BY user_id ORDER BY user_id"""),

    Query("w7_late_census", (s, dir) => {
      // W7 — watermark sizing census (beyond the reference): before
      // picking a streaming watermark delay δ, measure what δ WOULD
      // drop — per hourly window and event type, how many events
      // arrive after window_end + δ and how late the stragglers run.
      // Arrival lag synthesizes deterministically from md5(event_id)
      // (0..1799 s), so both engines score identical arrivals. All
      // output cells are BIGINT sums/maxes — order-exact — and the
      // census is one groupBy over the raw stream: embarrassingly
      // parallel at any scale, the batch probe you run over yesterday's
      // data before committing δ to `withWatermark`.
      val deltaUs = 600L * 1000000L
      val ev = t(s, dir, "events").select(
        col("event_type"),
        unix_micros(col("ts")).as("tus"),
        unix_micros(date_trunc("hour", col("ts"))).as("win_us"),
        (pmod(conv(substring(md5(concat(lit("arr:"),
            col("event_id").cast("string"))), 1, 7), 16, 10)
          .cast("long"), lit(1800L)) * 1000000L).as("lag_us"))
      ev.groupBy(col("win_us"), col("event_type"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("tus") + col("lag_us") >
              col("win_us") + 3600000000L + deltaUs, 1L).otherwise(0L))
            .as("n_late"),
          max(col("lag_us")).as("max_lag_us"),
          sum(col("lag_us")).as("sum_lag_us"))
        .orderBy(col("win_us"), col("event_type"))
    },
      """WITH e AS (
           SELECT event_type,
             epoch_us(ts::TIMESTAMP) AS tus,
             epoch_us(date_trunc('hour', ts::TIMESTAMP)) AS win_us,
             (('0x' || substr(md5('arr:' || event_id::VARCHAR), 1, 7))
               ::BIGINT % 1800) * 1000000 AS lag_us
           FROM events)
         SELECT win_us, event_type, count(*)::BIGINT AS n_total,
           sum(CASE WHEN tus + lag_us > win_us + 3600000000 + 600000000
             THEN 1 ELSE 0 END)::BIGINT AS n_late,
           max(lag_us)::BIGINT AS max_lag_us,
           sum(lag_us)::BIGINT AS sum_lag_us
         FROM e GROUP BY win_us, event_type
         ORDER BY win_us, event_type"""),

    Query("w8_session_funnel", (s, dir) => {
      // W8 — ordered conversion funnel (beyond the reference): per day,
      // how many users complete view → click → purchase IN ORDER —
      // step k's timestamp must strictly follow step k−1's first
      // completion. Three conditional min-aggregations stitched by
      // user-keyed joins (each shuffles (user, µs-timestamp) pairs
      // only); counts are BIGINT. The standard product-analytics
      // funnel, linear at any scale — no per-user event sorting, no
      // window over the whole stream.
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tus"),
        unix_micros(date_trunc("day", col("ts"))).as("day_us"))
      // day_us is monotone in tus, so min(day_us) IS the first view's day
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("tus")).as("t1"),
          min(col("day_us")).as("day_us"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id").filter(col("tus") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("tus")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id").filter(col("tus") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("tus")).as("t3"))
      s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
        .groupBy(col("day_us")).agg(
          count(lit(1)).as("n_view"),
          sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("n_click"),
          sum(when(col("t3").isNotNull, 1L).otherwise(0L))
            .as("n_purchase"))
        .orderBy(col("day_us"))
    },
      """WITH e AS (
           SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS tus,
             epoch_us(date_trunc('day', ts::TIMESTAMP)) AS day_us
           FROM events),
         s1 AS (SELECT user_id, min(tus) AS t1, min(day_us) AS day_us
           FROM e WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.tus) AS t2
           FROM e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.tus > s1.t1
           GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.tus) AS t3
           FROM e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.tus > s2.t2
           GROUP BY e.user_id)
         SELECT s1.day_us, count(*)::BIGINT AS n_view,
           sum(CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_click,
           sum(CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_purchase
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
         LEFT JOIN s3 ON s1.user_id = s3.user_id
         GROUP BY s1.day_us ORDER BY s1.day_us"""),

    Query("w10_trailing_range", (s, dir) => {
      // W10 — event-time RANGE frame (beyond the reference): per
      // event, the trailing-1-hour count and integer payload sum for
      // the same user — `rangeBetween` on the µs axis, the
      // time-decayed feature shape behind rate limits and per-user
      // rolling quotas. Frames are defined by VALUE (peer rows get
      // identical frames on both engines), every aggregate is an
      // order-free integer, and the window partitions by user — group
      // size is one user's events, never the stream.
      val ev = t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"),
        pmod(col("event_id"), lit(97L)).as("pay"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
        .rangeBetween(-3600000000L, 0L)
      ev.select(col("user_id"), col("event_id"), col("tus"),
          count(lit(1)).over(w).as("n_trail"),
          sum(col("pay")).over(w).as("sum_trail"))
        .orderBy(col("user_id"), col("tus"), col("event_id"))
    },
      // same VALUE-defined frame: peers (equal tus) share frames on
      // both engines, and every aggregate is an order-free integer
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS tus,
             event_id % 97 AS pay
           FROM events)
         SELECT user_id, event_id, tus,
           (count(*) OVER w)::BIGINT AS n_trail,
           (sum(pay) OVER w)::BIGINT AS sum_trail
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, tus, event_id"""),

    Query("w11_retention_cohorts", (s, dir) => {
      // W11 — retention cohort matrix (beyond the reference; the
      // product-analytics table next to w8's funnel): users cohort by
      // their FIRST active day; cell (c, k) counts cohort-c users
      // active k days later, with the integer retention rate in micro
      // units. Two user-keyed aggregates + one join — the (user, day)
      // activity spine dedups first so heavy users don't inflate
      // cells, day arithmetic stays on the µs axis (the w8
      // convention), and the output is bounded by days² regardless of
      // corpus size. Scale shape: both shuffles key on user_id /
      // cohort day; nothing corpus-sized survives the first distinct.
      val act = t(s, dir, "events")
        .select(col("user_id"),
          unix_micros(date_trunc("day", col("ts"))).as("day_us"))
        .distinct()
      val first = act.groupBy(col("user_id"))
        .agg(min(col("day_us")).as("cohort_us"))
      val sizes = first.groupBy(col("cohort_us"))
        .agg(count(lit(1)).as("n_cohort"))
      act.join(first, "user_id")
        .select(col("cohort_us"),
          expr("(day_us - cohort_us) div 86400000000").as("k"))
        .groupBy(col("cohort_us"), col("k"))
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, "cohort_us")
        .select(col("cohort_us"), col("k"), col("n_active"),
          col("n_cohort"),
          expr("n_active * 1000000 div n_cohort").as("rate_micro"))
        .orderBy(col("cohort_us"), col("k"))
    },
      // distinct (user, day) spine -> first day -> cohort sizes ->
      // (cohort, k) activity counts; all integer, µs day axis
      """WITH act AS (SELECT DISTINCT user_id,
             epoch_us(date_trunc('day', ts::TIMESTAMP)) AS day_us
           FROM events),
         fi AS (SELECT user_id, min(day_us) AS cohort_us
           FROM act GROUP BY 1),
         sz AS (SELECT cohort_us, count(*)::BIGINT AS n_cohort
           FROM fi GROUP BY 1),
         ak AS (SELECT f.cohort_us,
             ((a.day_us - f.cohort_us) // 86400000000)::BIGINT AS k,
             count(*)::BIGINT AS n_active
           FROM act a JOIN fi f USING (user_id) GROUP BY 1, 2)
         SELECT a.cohort_us, a.k, a.n_active, s.n_cohort,
           (a.n_active * 1000000 // s.n_cohort)::BIGINT AS rate_micro
         FROM ak a JOIN sz s USING (cohort_us)
         ORDER BY a.cohort_us, a.k""")
  )
}
