package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins the r19 lifecycle round-trip cuts (VERDICT r18 next-round #2):
  * commit/hwm markers became FS-direct (no spark.range(1) write job),
  * the FileManifest and BM25 meta became driver-side text IO, and the
  * s19 tick report returns literal rows — each removed round trip is
  * one fewer Spark job. Measured at sf0.01/local[8]:
  *
  *   s19_incremental_listing  24 -> 14
  *   v17_bm25_indexed         50 -> 39
  *   v17_bm25_indexed         39 -> 27  (no persisted df, postings ∥
  *                                       stats; sf0.001/local[4])
  *   d15_lsh_index_probe      26 -> 22
  *   v14_ivf_recenter         43 -> 39
  *   g12_vector_tick          38 -> 35
  *   d18_neardup_ingest       37 -> 36
  *
  * The bounds below carry headroom (+4..5) for SF/core/AQE variance
  * while still failing if a marker/manifest job class returns (each
  * class re-adds 3-11 jobs). sf0.001 keeps the spec cheap.
  *
  * The second group was measured at this spec's own sf0.001/local[4]:
  * tq14 58, tq3 36, g14 47, g2 17, g3 18, g5 18, g6 21 jobs.
  *
  * Packing's token mass became FS-API text taken from the totals the
  * packing collects, committed-dir reads take their schema from one
  * footer on the driver (no inference job), and s19's tick rows sit on
  * one partition (no range exchange). sf0.001/local[4]:
  *
  *   g15_pack_tick            22 -> 13
  *   s19_incremental_listing  14 -> 10
  *   tq14_lr_model_log        58 -> 50
  *   tq3_incremental_model    36 -> 32
  *   g14_takedown_tick        47 -> 45
  *
  * Jobs are counted by [[Harness.run]] through the shared
  * [[BenchTelemetry]] listener, the count `graft.Profile` prints:
  * re-measure with `graft.Profile <query>` at sf0.001, local[4].
  *
  * Each query's file-write commands are also recorded: commit markers,
  * water lines and the BM25 meta are FS-API writes, so no Spark
  * write may target a `commits/`, `hwm/`, `meta/` or `tot/` dir (the
  * last is Packing's token mass). g2, g5 and g6 write no file at all,
  * so only their budget is checked.
  */
class JobCountSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** (jobs, output paths of the file-write commands) of one query. */
  private def jobsOf(name: String): (Long, Seq[String]) = {
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val w = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.foreach {
          case c: InsertIntoHadoopFsRelationCommand =>
            writes.add(c.outputPath.toString): Unit
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(w)
    try {
      val r = Harness.run(spark, sfDir, name, SparkEntry.queries(name))
      assert(r.wall >= 0, s"$name threw (its message is on stderr)")
      (r.m.jobs, writes.toArray(Array.empty[String]).toSeq)
    } finally spark.listenerManager.unregister(w)
  }

  /** One job-budget test; `writesFiles` = false skips only the check
    * that some file write was seen. */
  private def budget(name: String, bound: Long, label: String,
                     writesFiles: Boolean = true): Unit =
    test(s"$name runs within its $label job budget (<= $bound)") {
      val (n, writes) = jobsOf(name)
      assert(n <= bound,
        s"$name ran $n jobs (> $bound) — either a lifecycle round-trip " +
          "class (marker write job / manifest parquet job / tick stage " +
          "write) has returned, or the query legitimately grew: then " +
          "re-measure with graft.Profile and raise the budget")
      if (writesFiles)
        assert(writes.nonEmpty, s"$name: no file-write command was recorded")
      val marker = writes.filter(_.matches(".*/(commits|hwm|meta|tot)(/.*)?"))
      assert(marker.isEmpty,
        s"$name wrote through Spark into a marker dir: ${marker.mkString(", ")}")
    }

  Seq(
    "s19_incremental_listing" -> 15L,
    "v17_bm25_indexed" -> 32L,
    "d15_lsh_index_probe" -> 27L,
    "v14_ivf_recenter" -> 44L,
    "g12_vector_tick" -> 40L).foreach { case (n, b) => budget(n, b, "post-r19") }

  Seq(
    ("tq14_lr_model_log", 55L, true),
    ("tq3_incremental_model", 37L, true),
    ("g14_takedown_tick", 50L, true),
    ("g15_pack_tick", 18L, true),
    ("g2_training_corpus", 22L, false),
    ("g3_corpus_store", 23L, true),
    ("g5_training_batches", 23L, false),
    ("g6_steered_corpus", 26L, false)).foreach { case (n, b, w) => budget(n, b, "measured", w) }
}
