package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Metadata-only parquet aggregation (DataSource-v2 aggregate pushdown).
  *
  * With the DSv2 parquet reader and `spark.sql.parquet.aggregatePushdown`
  * on, COUNT / MIN / MAX with no filter and no non-partition grouping
  * compile to a FOOTER read: the scan answers from each file's row-group
  * statistics, touching zero data pages (the plan's `PushedAggregation`
  * field names what moved into the scan). At 100 TB that is the
  * difference between a cluster-hours full scan and ~1 KB of metadata IO
  * per file — the right way to serve table-stats dashboards, freshness
  * gates, and row-count sanity checks over a landed corpus.
  *
  * Caveat (observed on Spark 4.1): a file whose aggregated column is
  * ENTIRELY null has no min/max statistics in its footer, and the pushed
  * MIN/MAX read fails the scan rather than falling back — restrict
  * MIN/MAX to columns that are populated in every file (COUNT is always
  * safe; it reads row counts + null counts, which always exist).
  *
  * Both knobs are PLANNING-time session confs, so [[aggregate]] forces
  * execution while they are set and restores them before returning; the
  * result is one row by construction, so localizing it is
  * contract-bounded, not a driver-side loop over data.
  */
object FooterStats {

  /** The lazy aggregate frame over `path`; pushdown only happens if the
    * caller holds the confs (see [[withPushdownConfs]]). Exposed
    * separately so plan audits can inspect the planned scan.
    */
  def plan(spark: SparkSession, path: String, aggs: Seq[Column]): DataFrame = {
    require(aggs.nonEmpty, "FooterStats needs at least one aggregate")
    graft.operators.SegmentFs.readCommitted(spark, path).agg(aggs.head, aggs.tail: _*)
  }

  /** Run `body` with the DSv2 parquet reader + aggregate pushdown forced
    * on, restoring both confs afterwards (they are read at planning time,
    * so every plan the body constructs AND executes sees them; nothing
    * planned later does).
    *
    * SINGLE-WRITER assumption: the confs are session-wide, so a query
    * planned CONCURRENTLY on the same SparkSession would also get the
    * V2 reader + pushdown, and the plain save/restore is not reentrant
    * (a nested use restores the inner previous value). Fine for the
    * sequential bench/verify drivers this repo runs; a server-style
    * deployment sharing one session across threads should scope the
    * confs to a dedicated `spark.newSession()` instead.
    */
  def withPushdownConfs[A](spark: SparkSession)(body: => A): A = {
    val conf = spark.conf
    val v1Key = "spark.sql.sources.useV1SourceList"
    val pdKey = "spark.sql.parquet.aggregatePushdown"
    val prevV1 = conf.get(v1Key)
    val prevPd = conf.get(pdKey)
    conf.set(v1Key, prevV1.split(",").map(_.trim)
      .filter(s => s.nonEmpty && s != "parquet").mkString(","))
    conf.set(pdKey, "true")
    try body
    finally {
      conf.set(v1Key, prevV1)
      conf.set(pdKey, prevPd)
    }
  }

  /** Footer-only aggregate: plans and executes under the pushdown confs,
    * returns the one-row result as a local frame, confs restored.
    */
  def aggregate(spark: SparkSession, path: String,
                aggs: Seq[Column]): DataFrame = {
    val (rows, schema) = withPushdownConfs(spark) {
      val df = plan(spark, path, aggs)
      (df.collect().toSeq, df.schema)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The executed-plan string under the pushdown confs (plan audits pin
    * `PushedAggregation` here).
    */
  def pushedPlanString(spark: SparkSession, path: String,
                       aggs: Seq[Column]): String =
    withPushdownConfs(spark) {
      plan(spark, path, aggs).queryExecution.executedPlan.toString
    }
}
