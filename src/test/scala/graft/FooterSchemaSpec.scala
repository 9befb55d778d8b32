package graft

import graft.operators.{CountLog, MergeLog, Packing, SegmentFs}
import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `SegmentFs.readCommitted` takes a committed dir's schema from one
  * footer on the driver. On every store layout that reads through it the
  * frame must carry exactly the schema `spark.read.parquet` infers —
  * types, nullability and field metadata — and with no Spark job; without
  * a Spark schema in the footer it must fall back to inference.
  */
class FooterSchemaSpec extends SparkSpec {
  import spark.implicits._

  /** Non-nullable and nullable columns of the types the stores write. */
  private def wide(n: Int, seed: Long): DataFrame =
    spark.range(n).select(
      (col("id") + seed).as("id"),
      (col("id") * 3).cast("int").as("i"),
      when(col("id") % 2 === 0, col("id").cast("double")).as("maybe_d"),
      concat(lit("s"), col("id").cast("string")).as("s"),
      (col("id") % 3 === 0).as("flag"),
      unhex(lit("CAFE")).as("bin"),
      array(col("id").cast("double"), lit(0.5)).as("vec"),
      array(col("id").cast("float")).as("fvec"),
      struct(col("id").as("a"), lit("b").as("b")).as("st"),
      col("id").cast("decimal(12,2)").as("dec"),
      timestamp_micros(col("id")).as("ts"),
      lit(null).cast("string").as("always_null"))
      .withMetadata("s", new org.apache.spark.sql.types.MetadataBuilder()
        .putString("comment", "kept").build())

  /** Jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; Bus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  private def sameAsInference(layout: String, dirs: Seq[String]): Unit = {
    assert(SegmentFs.footerSchema(spark, dirs).isDefined, s"$layout: no footer schema")
    var viaFooter: DataFrame = null
    assert(jobsDuring { viaFooter = SegmentFs.readCommitted(spark, dirs: _*) } == 0,
      s"$layout: the footer read ran a Spark job")
    val inferred = spark.read.parquet(dirs: _*)
    assert(viaFooter.schema == inferred.schema, s"$layout")
    def rowsOf(df: DataFrame) = df.toJSON.collect().sorted.toSeq
    assert(rowsOf(viaFooter) == rowsOf(inferred), s"$layout")
  }

  test("merge-on-read logs: base/v=N and delta/d=K dirs") {
    val dir = Scratch.dir("fs_mergelog")
    val rows = wide(20, 0).withColumn("version", lit(0L)).withColumn("deleted", lit(false))
    MergeLog.init(rows, dir)
    (0L to 10L by 10L).foreach(k => MergeLog.appendDelta(
      wide(5, k).withColumn("version", lit(k + 1)).withColumn("deleted", lit(false)),
      dir, Some(k)))
    sameAsInference("MergeLog base", Seq(SegmentFs.baseDir(dir, 0L)))
    // several dirs: one footer, from the first data file in path order
    sameAsInference("MergeLog deltas", Seq(0L, 10L).map(SegmentFs.deltaDir(dir, _)))
    val counts = Scratch.dir("fs_countlog")
    CountLog.init(Seq(("a", 1L, 2.0)).toDF("k", "n", "w"), counts)
    CountLog.append(Seq(("b", 3L, 4.0)).toDF("k", "n", "w"), counts, Some(0L))
    sameAsInference("CountLog base", Seq(SegmentFs.baseDir(counts, 0L)))
    sameAsInference("CountLog delta", Seq(SegmentFs.deltaDir(counts, 0L)))
  }

  test("packed store segments") {
    val store = Scratch.dir("fs_packed") + "/packed"
    Packing.appendPacked(spark, store, Seq((1L, 4L), (2L, 6L)).toDF("doc_id", "n_tok"),
      $"doc_id", $"n_tok", batchId = 0L, bucketWidth = 2L)
    Packing.appendPacked(spark, store, Seq((3L, 5L)).toDF("doc_id", "n_tok"),
      $"doc_id", $"n_tok", batchId = 1L, bucketWidth = 2L)
    sameAsInference("Packing delta", Seq(0L, 1L).map(SegmentFs.deltaDir(store, _)))
  }

  test("landing drops, stage dirs and a partitioned dir") {
    val landing = Scratch.dir("fs_landing")
    wide(8, 0).coalesce(1).write.parquet(s"$landing/d1")
    wide(8, 100).write.parquet(s"$landing/d2")
    sameAsInference("landing drops", Seq("d1", "d2").map(d => s"$landing/$d"))
    val stage = Scratch.dir("fs_stage")
    wide(30, 0).repartition(3).write.mode("overwrite").parquet(stage)
    sameAsInference("stage dir", Seq(stage))
    val parts = Scratch.dir("fs_parts")
    Seq(0L, 1L).foreach(b => wide(4, b).write.parquet(s"$parts/b=$b"))
    sameAsInference("partitioned dir", Seq(parts))
  }

  test("no Spark schema in the footer: inference, as before") {
    // the events table comes from a foreign writer, and its ts encoding
    // has changed between generations: the fixture is TIMESTAMP(NANOS),
    // which surfaces as long under nanosAsLong
    val nanos = getClass.getResource("/events_ts_nanos.parquet").getPath
    for (events <- Seq(nanos, "/root/testdata/sf0.001/events.parquet")) {
      assert(SegmentFs.footerSchema(spark, Seq(events)).isEmpty, events)
      assert(SegmentFs.readCommitted(spark, events).schema ==
        spark.read.parquet(events).schema, events)
    }
    assert(spark.read.parquet(nanos).schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    // a committed dir with no data file: Spark's own error
    val empty = Scratch.dir("fs_empty")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    assert(SegmentFs.footerSchema(spark, Seq(empty)).isEmpty)
    val viaHelper = intercept[Exception](SegmentFs.readCommitted(spark, empty))
    val bare = intercept[Exception](spark.read.parquet(empty))
    assert(viaHelper.getClass == bare.getClass)
    assert(viaHelper.getMessage == bare.getMessage)
  }
}
