package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Diagnostic (r19 optimization round): Spark JOBS per query — the
  * driver round-trip count that walls the scheduler-bound lifecycle
  * class (wall ≈ Σ dependent-job latencies at ~1 busy core). Used to
  * measure the marker/manifest round-trip cuts: each removed
  * `spark.range(1).write.parquet` commit marker or one-row manifest
  * read/write is one fewer job. Prints one line per query:
  * name, job count, wall seconds.
  */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.driver()
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())
    val jobs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    })
    SparkEntry.select(args.toSeq).toSeq.sortBy(_._1).foreach { case (name, fn) =>
      org.apache.spark.graftbridge.Bus.drain(spark.sparkContext)
      jobs.set(0L)
      val t0 = System.nanoTime()
      Frames.drain(fn(spark, sfDir))
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftbridge.Bus.drain(spark.sparkContext)
      println(f"JOBCOUNT $name%-24s jobs=${jobs.get()}%4d wall=$dt%7.3f")
      Frames.scrubSession(spark)
    }
    spark.stop()
  }
}
