package graft
package queries

import graft.queries.Common._
import org.apache.spark.sql.functions._

/** Family n: link-graph ranking (PageRank, its incremental tick,
  * TrustRank, HITS).
  */
object GraphQueries {

  /** n3's trusted seed nations: customers of these nations are the
    * hand-trusted whitelist whose teleport mass ranks the rest of the
    * interaction graph (the TrustRank seed set). Shared by the query
    * and its oracle.
    */
  private val trustedNations = Seq("NATION_3", "NATION_7", "NATION_11")

  /** DuckDB CTE chain replaying [[graft.operators.Graph.linkRank]] over
    * a caller-provided `<p>edges`(src, dst, cnt BIGINT) CTE: emits
    * `<p>deg/<p>ew/<p>nodes/<p>r0..<p>r{iters}` with `<p>r0` uniform
    * (10⁶) or warm-started from `start` (SQL selecting (node, r)).
    * MATERIALIZED throughout — the iterative chain references each
    * stage more than once and plain CTEs inline exponentially.
    */
  private def sqlLinkRankCtes(p: String, iters: Int,
                              start: Option[String] = None): String = {
    val r0 = start match {
      case None => s"SELECT node, 1000000::BIGINT AS r FROM ${p}nodes"
      case Some(sel) =>
        s"""SELECT n.node, coalesce(s.r, 1000000)::BIGINT AS r
           FROM ${p}nodes n LEFT JOIN ($sel) s USING (node)"""
    }
    val iterCtes = (1 to iters).map { t =>
      s"""${p}c$t AS MATERIALIZED (SELECT ew.dst AS node,
             sum(ew.cnt * ((17 * pr.r) // (20 * ew.outdeg)))::BIGINT AS m
           FROM ${p}ew ew JOIN ${p}r${t - 1} pr ON pr.node = ew.src
           GROUP BY ew.dst),
         ${p}r$t AS MATERIALIZED (SELECT n.node,
             (150000 + coalesce(c.m, 0))::BIGINT AS r
           FROM ${p}nodes n LEFT JOIN ${p}c$t c USING (node))"""
    }.mkString(",\n")
    s"""${p}deg AS MATERIALIZED (SELECT src, sum(cnt)::BIGINT AS outdeg
           FROM ${p}edges GROUP BY src),
       ${p}ew AS MATERIALIZED (SELECT e.src, e.dst, e.cnt, d.outdeg
           FROM ${p}edges e JOIN ${p}deg d USING (src)),
       ${p}nodes AS MATERIALIZED (SELECT src AS node FROM ${p}edges
           UNION SELECT dst AS node FROM ${p}edges),
       ${p}r0 AS MATERIALIZED ($r0),
       $iterCtes"""
  }

  /** n3's DuckDB twin of [[graft.operators.Graph.trustRank]]: the
    * [[sqlLinkRankCtes]] walk with the teleport mass concentrated on a
    * `seeds(node)` CTE. |V| and |S| fold in as scalar-subquery BIGINTs
    * (the literals Spark computes driver-side), and `//` on
    * non-negative BIGINTs floors exactly like Spark's `div`, so every
    * rank cell is the identical integer on both engines.
    */
  private def sqlTrustRankCtes(iters: Int): String = {
    val iterCtes = (1 to iters).map { t =>
      s"""c$t AS MATERIALIZED (SELECT ew.dst AS node,
             sum(ew.cnt * ((17 * pr.r) // (20 * ew.outdeg)))::BIGINT AS m
           FROM ew JOIN r${t - 1} pr ON pr.node = ew.src
           GROUP BY ew.dst),
         r$t AS MATERIALIZED (SELECT n.node,
             (CASE WHEN n.seed THEN (150000 * k.nn) // k.ns ELSE 0 END
              + coalesce(c.m, 0))::BIGINT AS r
           FROM nodes n CROSS JOIN k LEFT JOIN c$t c USING (node))"""
    }.mkString(",\n")
    s"""deg AS MATERIALIZED (SELECT src, sum(cnt)::BIGINT AS outdeg
           FROM edges GROUP BY src),
       ew AS MATERIALIZED (SELECT e.src, e.dst, e.cnt, d.outdeg
           FROM edges e JOIN deg d USING (src)),
       nodes AS MATERIALIZED (SELECT node,
             node IN (SELECT node FROM seeds) AS seed
           FROM (SELECT src AS node FROM edges
                 UNION SELECT dst AS node FROM edges)),
       k AS MATERIALIZED (SELECT (SELECT count(*) FROM nodes) AS nn,
           (SELECT count(*) FROM nodes WHERE seed) AS ns),
       r0 AS MATERIALIZED (SELECT n.node,
           (CASE WHEN n.seed THEN (1000000 * k.nn) // k.ns
            ELSE 0 END)::BIGINT AS r
           FROM nodes n CROSS JOIN k),
       $iterCtes"""
  }

  /** n4's DuckDB twin of [[graft.operators.Graph.hits]] over a
    * caller-provided `edges(src, dst, cnt)` CTE: per iteration the two
    * integer half-steps plus the power-of-sum rescale, ending in
    * `a{iters}(node, a)` / `h{iters}(node, h)`. `//` on non-negative
    * BIGINTs floors exactly like Spark's `div`.
    */
  private def sqlHitsCtes(iters: Int): String = {
    def half(outCte: String, outCol: String, joinSide: String,
             groupSide: String, prevCte: String, prevCol: String) =
      s"""${outCte}r AS MATERIALIZED (SELECT e.$groupSide AS node,
             sum(e.cnt * p.$prevCol)::BIGINT AS raw
           FROM edges e JOIN $prevCte p ON p.node = e.$joinSide
           GROUP BY e.$groupSide),
         ${outCte}s AS MATERIALIZED (SELECT
             coalesce(sum(raw), 1)::BIGINT AS sr FROM ${outCte}r),
         $outCte AS MATERIALIZED (SELECT n.node,
             (coalesce(r.raw, 0) //
               greatest(1, s.sr // (k.nv * 1000000)))::BIGINT AS $outCol
           FROM nodes n CROSS JOIN ${outCte}s s CROSS JOIN k
           LEFT JOIN ${outCte}r r USING (node))"""
    val iterCtes = (1 to iters).map { t =>
      val prevH = if (t == 1) "h0" else s"h${t - 1}"
      half(s"a$t", "a", "src", "dst", prevH, "h") + ",\n" +
        half(s"h$t", "h", "dst", "src", s"a$t", "a")
    }.mkString(",\n")
    s"""nodes AS MATERIALIZED (SELECT src AS node FROM edges
           UNION SELECT dst AS node FROM edges),
       k AS MATERIALIZED (SELECT count(*)::BIGINT AS nv FROM nodes),
       h0 AS MATERIALIZED (SELECT node, 1000000::BIGINT AS h FROM nodes),
       $iterCtes"""
  }

  val all: Seq[Query] = Seq(
    Query("n1_pagerank", (s, dir) => {
      // Weighted link rank (beyond the reference): damped random walk
      // (PageRank, d = 17/20) over the customer↔supplier interaction
      // graph, 3 fixed iterations. Graph.linkRank keeps every rank a
      // BIGINT in micro-units — floor-divided per-edge contributions
      // summed as integers — so the iteration chain is order-exact
      // on both engines (no float cell anywhere). One iteration = one
      // hash join + one hash agg on the edge list: the standard
      // distributed PageRank step, linear in |E| at any scale.
      // Supplier nodes are NEGATED suppkeys (customers keep their
      // positive custkeys): sign-disjoint key spaces at any scale
      // factor, unlike an additive offset a big-enough custkey could
      // collide with (the n-family convention; oracles replay it).
      val raw = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (-col("l_suppkey")).as("p"))
      val edges = raw.select(col("c").as("src"), col("p").as("dst"))
        .unionAll(raw.select(col("p").as("src"), col("c").as("dst")))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      graft.operators.Graph.linkRank(edges, iters = 3)
        .filter(col("node") < 0L)
        .select((-col("node")).as("s_suppkey"),
          col("rank_micro"))
        .orderBy(col("rank_micro").desc, col("s_suppkey"))
        .limit(25)
    },
      // the same integer-micro-unit walk, iterations unrolled; `//` on
      // non-negative BIGINTs floors exactly like Spark's `div` (ranks
      // stay non-negative; supplier NODES are negated custkey-disjoint
      // keys used only as join/filter keys, never divided)
      s"""WITH raw AS (
           SELECT o.o_custkey AS c, -l.l_suppkey AS p
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         edges AS (
           SELECT src, dst, count(*)::BIGINT AS cnt FROM (
             SELECT c AS src, p AS dst FROM raw
             UNION ALL SELECT p AS src, c AS dst FROM raw)
           GROUP BY src, dst),
         ${sqlLinkRankCtes("", 3)}
         SELECT (-node)::BIGINT AS s_suppkey, r AS rank_micro
         FROM r3 WHERE node < 0
         ORDER BY rank_micro DESC, s_suppkey LIMIT 25"""),

    Query("n2_pagerank_tick", (s, dir) => {
      // N2 — the INCREMENTAL graph-rank tick (the index-lifecycle
      // discipline applied to n1): ranks are served from the history
      // graph; a delta day of orders lands; the refresh WARM-STARTS
      // from the served table (new nodes at the uniform 10⁶) and runs
      // only the couple of iterations the new mass needs to propagate
      // — O(iters·|E|) per tick, never a cold-start over history. All
      // arithmetic stays on the n1 integer grid, so served, refreshed
      // and their delta are engine-exact BIGINTs.
      // both edge sets from ONE orders⋈lineitem pass + ONE (src,dst)
      // aggregation: the full count and the history-only count ride the
      // same grouped row, so the tick pays the join exactly once
      val raw = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (-col("l_suppkey")).as("p"),
          (col("o_orderkey") % 17 =!= 0).as("hist"))
      val both = raw.select(col("c").as("src"), col("p").as("dst"),
          col("hist"))
        .unionAll(raw.select(col("p").as("src"), col("c").as("dst"),
          col("hist")))
        .groupBy(col("src"), col("dst")).agg(
          count(lit(1)).as("cnt"),
          sum(when(col("hist"), 1L).otherwise(0L)).as("cnt_h"))
        .localCheckpoint(eager = false)
      val bedges = both.filter(col("cnt_h") > 0)
        .select(col("src"), col("dst"), col("cnt_h").as("cnt"))
      val fedges = both.select(col("src"), col("dst"), col("cnt"))
      val served = graft.operators.Graph.linkRank(bedges, iters = 2)
        .localCheckpoint(eager = false)
      graft.operators.Graph.linkRankFrom(fedges, Some(served), iters = 2)
        .join(served.select(col("node"),
          col("rank_micro").as("prev_micro")), Seq("node"), "left")
        .filter(col("node") < 0L)
        .select((-col("node")).as("s_suppkey"),
          col("rank_micro"), col("prev_micro"))
        .orderBy(col("rank_micro").desc, col("s_suppkey"))
        .limit(25)
    },
      // serve ranks from the history graph (2 iterations), then the
      // delta-day orders arrive: warm-start 2 refresh iterations over
      // the full edge set from the served table (absent nodes at 10⁶)
      s"""WITH raw AS (
           SELECT o.o_orderkey AS ok, o.o_custkey AS c,
             -l.l_suppkey AS p
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         bedges AS (
           SELECT src, dst, count(*)::BIGINT AS cnt FROM (
             SELECT c AS src, p AS dst FROM raw WHERE ok % 17 <> 0
             UNION ALL SELECT p AS src, c AS dst FROM raw
             WHERE ok % 17 <> 0)
           GROUP BY src, dst),
         fedges AS (
           SELECT src, dst, count(*)::BIGINT AS cnt FROM (
             SELECT c AS src, p AS dst FROM raw
             UNION ALL SELECT p AS src, c AS dst FROM raw)
           GROUP BY src, dst),
         ${sqlLinkRankCtes("b", 2)},
         ${sqlLinkRankCtes("f", 2, Some("SELECT node, r FROM br2"))}
         SELECT (-f.node)::BIGINT AS s_suppkey,
           f.r AS rank_micro, b.r AS prev_micro
         FROM fr2 f LEFT JOIN br2 b ON f.node = b.node
         WHERE f.node < 0
         ORDER BY rank_micro DESC, s_suppkey LIMIT 25"""),

    Query("n3_trustrank", (s, dir) => {
      // N3 — SEEDED trust propagation (TrustRank; beyond the
      // reference): the n1 damped walk with ALL teleport mass
      // concentrated on a hand-trusted seed set — customers of the
      // pinned trustedNations — so a supplier's score measures how
      // reachable it is FROM trust, not raw link popularity. This is
      // the whitelist-extension move of source curation: a small
      // trusted-domain list ranks the whole source graph. Same
      // integer micro-unit contract as n1 (Graph.trustRank: seed
      // teleport (150000·|V|) div |S|, floor-divided per-edge shares,
      // BIGINT sums ⇒ order-exact on both engines); one iteration is
      // one edge-list join + one hash agg, linear in |E| at any scale.
      val raw = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (-col("l_suppkey")).as("p"))
      val edges = raw.select(col("c").as("src"), col("p").as("dst"))
        .unionAll(raw.select(col("p").as("src"), col("c").as("dst")))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      val seeds = t(s, dir, "customer")
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin(trustedNations: _*))
        .select(col("c_custkey").as("node"))
      graft.operators.Graph.trustRank(edges, seeds, iters = 3)
        .filter(col("node") < 0L)
        .select((-col("node")).as("s_suppkey"),
          col("rank_micro").as("trust_micro"))
        .orderBy(col("trust_micro").desc, col("s_suppkey"))
        .limit(25)
    },
      // the n1 walk with teleport concentrated on the trusted-nation
      // customer seeds; |V|, |S| as scalar subqueries, all-BIGINT
      s"""WITH raw AS (
           SELECT o.o_custkey AS c, -l.l_suppkey AS p
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         edges AS (
           SELECT src, dst, count(*)::BIGINT AS cnt FROM (
             SELECT c AS src, p AS dst FROM raw
             UNION ALL SELECT p AS src, c AS dst FROM raw)
           GROUP BY src, dst),
         seeds AS (
           SELECT c.c_custkey AS node FROM customer c
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           WHERE n.n_name IN (${trustedNations.map(n => s"'$n'")
             .mkString(", ")})),
         ${sqlTrustRankCtes(3)}
         SELECT (-node)::BIGINT AS s_suppkey, r AS trust_micro
         FROM r3 WHERE node < 0
         ORDER BY trust_micro DESC, s_suppkey LIMIT 25"""),

    Query("n4_hits", (s, dir) => {
      // N4 — HITS hubs & authorities (Kleinberg 1999; beyond the
      // reference): on the DIRECTED customer→supplier interaction
      // graph, hub score ranks customers by "buys from good
      // suppliers" and authority ranks suppliers by "bought by good
      // customers" — the two sides n1's single PageRank score
      // conflates, and exactly the source-vs-content split a corpus
      // curator wants on a crawler→domain graph. Graph.hits keeps
      // every score a BIGINT micro-unit: exact integer half-step
      // sums, then the integer power-of-sum rescale (a single
      // engine-exact scalar divisor riding a 1-row broadcast) —
      // order-exact on both engines, magnitudes bounded at any
      // iteration count. Two iterations; both top-25s in one output.
      val raw = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (-col("l_suppkey")).as("p"))
      val edges = raw.groupBy(col("c").as("src"), col("p").as("dst"))
        .agg(count(lit(1)).as("cnt"))
      val hs = graft.operators.Graph.hits(edges, iters = 2)
        .localCheckpoint(eager = false)
      val authTop = hs.filter(col("node") < 0L)
        .select(lit("auth").as("side"),
          (-col("node")).as("node_key"),
          col("auth_micro").as("score_micro"))
        .orderBy(col("score_micro").desc, col("node_key")).limit(25)
      val hubTop = hs.filter(col("node") > 0L)
        .select(lit("hub").as("side"), col("node").as("node_key"),
          col("hub_micro").as("score_micro"))
        .orderBy(col("score_micro").desc, col("node_key")).limit(25)
      authTop.unionByName(hubTop)
        .orderBy(col("side"), col("score_micro").desc, col("node_key"))
    },
      // both integer half-steps + the power-of-sum rescale, iterations
      // unrolled; tops taken per side then stitched
      s"""WITH raw AS (
           SELECT o.o_custkey AS c, -l.l_suppkey AS p
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         edges AS (
           SELECT c AS src, p AS dst, count(*)::BIGINT AS cnt
           FROM raw GROUP BY 1, 2),
         ${sqlHitsCtes(2)},
         at AS (SELECT (-node)::BIGINT AS node_key,
             a AS score_micro
           FROM a2 WHERE node < 0
           ORDER BY score_micro DESC, node_key LIMIT 25),
         ht AS (SELECT node AS node_key, h AS score_micro
           FROM h2 WHERE node > 0
           ORDER BY score_micro DESC, node_key LIMIT 25)
         SELECT 'auth' AS side, node_key, score_micro FROM at
         UNION ALL
         SELECT 'hub' AS side, node_key, score_micro FROM ht
         ORDER BY side, score_micro DESC, node_key""")
  )
}
