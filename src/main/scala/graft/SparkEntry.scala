package graft

import graft.functions.{TextFunctions => TF}
import graft.operators.Dedup
import graft.queries._
import graft.queries.Common.{fround, t}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one [[graft.queries.Query]] (Spark builder + DuckDB
  * twin) per implemented operator from SURVEY.md §2, declared in the
  * per-family files under `graft.queries`. Query bodies are thin: the
  * operator logic lives in `graft.operators` / `graft.functions`.
  *
  * Conventions shared by Spark query and oracle SQL:
  *  - identical output column names (driver hash-compares by sorted name);
  *  - floating aggregates rounded to 6 (or fewer) decimals on both sides;
  *  - a deterministic ORDER BY on every result.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the document-pipeline spine: clean → dedup → per-language stats.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = t(spark, "/root/testdata/sf0.001", "documents")
    val deduped = Dedup.titleHashDedup(docs, col("text"), col("doc_id"))
    deduped
      .withColumn("clean", TF.cleanText(col("text")))
      .groupBy(col("lang"))
      .agg(
        count("*").as("n_docs"),
        fround(avg(TF.wordCount(col("clean"))), 4).as("avg_words"),
        fround(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy(col("lang"))
  }

  /** Every query, family by family. */
  private[graft] val registry: Seq[Query] = Seq(
    CoreQueries.all, AggregateQueries.all, ComplianceQueries.all,
    DedupQueries.all, CorpusQueries.all, EnrichQueries.all,
    MediaQueries.all, GraphQueries.all, SourceQueries.all,
    TextQueries.all, QualityQueries.all, VectorQueries.all,
    WindowQueries.all, MixQueries.all).flatten

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** Lazy: some twins encode their fixtures when evaluated. */
  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.sql).toMap

  /** The named queries (all when none are named); an unknown name
    * throws, so a typo cannot shrink a run to nothing unnoticed. */
  def select(names: Seq[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) queries else queries.view.filterKeys(names.toSet).toMap
  }
}
