package graft

import graft.operators.{Classify, CountLog, SegmentFs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CountLogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/log"

  private def asMap(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("read folds base plus deltas to exact totals; compact invariant") {
    val dir = tmp("countlog")
    CountLog.init(Seq((1L, 2L, 10L), (2L, 1L, 5L)).toDF("f", "a", "b"), dir)
    CountLog.append(Seq((1L, 3L, 1L), (3L, 7L, 0L)).toDF("f", "a", "b"), dir)
    CountLog.append(Seq((2L, 1L, 1L)).toDF("f", "a", "b"), dir)
    val expected = Map(1L -> (5L, 11L), 2L -> (2L, 6L), 3L -> (7L, 0L))
    assert(asMap(CountLog.read(spark, dir, Seq("f"))) == expected)
    CountLog.compact(spark, dir, Seq("f"))
    assert(asMap(CountLog.read(spark, dir, Seq("f"))) == expected,
      "compacted read must be identical")
    // post-compact appends keep accumulating on the new base
    CountLog.append(Seq((3L, 1L, 1L)).toDF("f", "a", "b"), dir)
    assert(asMap(CountLog.read(spark, dir, Seq("f")))(3L) == ((8L, 1L)))
  }

  test("readAsOf reproduces totals at any retained batch horizon") {
    val dir = tmp("countlog")
    CountLog.init(Seq((1L, 1L, 0L)).toDF("f", "a", "b"), dir)
    CountLog.append(Seq((1L, 2L, 0L)).toDF("f", "a", "b"), dir, Some(0L))
    CountLog.append(Seq((1L, 4L, 0L)).toDF("f", "a", "b"), dir, Some(1L))
    assert(asMap(CountLog.readAsOf(spark, dir, Seq("f"), 0L)) ==
      Map(1L -> (3L, 0L)))
    assert(asMap(CountLog.readAsOf(spark, dir, Seq("f"), 1L)) ==
      asMap(CountLog.read(spark, dir, Seq("f"))))
    CountLog.compact(spark, dir, Seq("f"))
    CountLog.append(Seq((1L, 8L, 0L)).toDF("f", "a", "b"), dir, Some(2L))
    // pre-compaction horizons are gone; retained ones still resolve
    intercept[IllegalStateException] {
      CountLog.readAsOf(spark, dir, Seq("f"), 1L).collect()
    }
    assert(asMap(CountLog.readAsOf(spark, dir, Seq("f"), 2L)) ==
      Map(1L -> (15L, 0L)))
  }

  test("append is idempotent per committed batch id") {
    val dir = tmp("countlog")
    CountLog.init(Seq((1L, 1L, 1L)).toDF("f", "a", "b"), dir)
    CountLog.append(Seq((1L, 5L, 5L)).toDF("f", "a", "b"), dir, Some(7L))
    CountLog.append(Seq((1L, 5L, 5L)).toDF("f", "a", "b"), dir, Some(7L))
    assert(asMap(CountLog.read(spark, dir, Seq("f"))) == Map(1L -> (6L, 6L)))
  }

  test("a compaction that died before retiring its deltas reads the clean totals; the retry converges") {
    val dir = tmp("countlog")
    CountLog.init(Seq((1L, 1L, 10L), (2L, 1L, 1L)).toDF("f", "a", "b"), dir)
    CountLog.append(Seq((1L, 3L, 1L)).toDF("f", "a", "b"), dir, Some(0L))
    CountLog.append(Seq((1L, 5L, 1L), (2L, 1L, 0L)).toDF("f", "a", "b"), dir, Some(1L))
    val clean = asMap(CountLog.read(spark, dir, Seq("f")))
    // the crash state: base v=2 (ids 0 and 1 folded) committed, no delta retired
    CountLog.read(spark, dir, Seq("f")).write.parquet(SegmentFs.baseDir(dir, 2L))
    assert(asMap(CountLog.read(spark, dir, Seq("f"))) == clean)
    assert(CountLog.compact(spark, dir, Seq("f")) == 2L)
    assert(new java.io.File(s"$dir/delta").list().isEmpty)
    assert(asMap(CountLog.read(spark, dir, Seq("f"))) == clean)
  }

  test("a replay of a folded batch id is a no-op; auto ids start above the folded ids") {
    val dir = tmp("countlog")
    CountLog.init(Seq((1L, 1L, 1L)).toDF("f", "a", "b"), dir)
    CountLog.append(Seq((1L, 2L, 0L)).toDF("f", "a", "b"), dir, Some(0L))
    CountLog.append(Seq((1L, 4L, 0L)).toDF("f", "a", "b"), dir, Some(5L))
    assert(CountLog.compact(spark, dir, Seq("f")) == 6L)
    val folded = asMap(CountLog.read(spark, dir, Seq("f")))
    assert(CountLog.append(Seq((1L, 2L, 0L)).toDF("f", "a", "b"), dir, Some(0L)) == 0L)
    assert(asMap(CountLog.read(spark, dir, Seq("f"))) == folded)
    assert(CountLog.append(Seq((1L, 8L, 0L)).toDF("f", "a", "b"), dir) == 6L)
    assert(asMap(CountLog.readAsOf(spark, dir, Seq("f"), 6L)) == Map(1L -> (15L, 1L)))
    // folded ids are below the horizon even with a delta retained
    intercept[IllegalStateException](CountLog.readAsOf(spark, dir, Seq("f"), 0L))
  }

  private val corpus = Seq(
    (1L, true, "apple banana apple cherry"),
    (2L, true, "banana apple banana mango"),
    (3L, true, "cherry apple mango banana"),
    (4L, false, "rock sand rock gravel"),
    (5L, false, "sand rock sand basalt"),
    (6L, false, "gravel rock basalt sand")
  ).toDF("id", "pos", "text")

  test("incremental NB model == from-scratch retrain, exactly") {
    val dir = tmp("nbmodel")
    val B = 1024
    val batches = Seq(
      corpus.filter($"id" % 3 === 0), corpus.filter($"id" % 3 === 1),
      corpus.filter($"id" % 3 === 2))
    Classify.initModelLog(
      Classify.trainModel(batches.head, $"pos", $"text", B), dir)
    Classify.appendModelBatch(batches(1), $"pos", $"text", B, dir, Some(1L))
    Classify.appendModelBatch(batches(2), $"pos", $"text", B, dir, Some(2L))
    val inc = Classify.loadModel(spark, dir, B)
    val full = Classify.trainModel(corpus, $"pos", $"text", B)
    assert(asMap(inc.feat) == asMap(full.feat),
      "folded feature counts must equal the full retrain")
    assert(rows(inc.stats.select($"dpos", $"dneg", $"tpos", $"tneg")) ==
      rows(full.stats.select($"dpos", $"dneg", $"tpos", $"tneg")))
    // scoring equality follows bit-for-bit — same integer inputs, same
    // float expression tree
    val held = Seq((10L, "apple rock banana")).toDF("id", "text")
    val si = Classify.score(inc, held, $"id", $"text", "id")
      .select($"log_odds").as[Double].head()
    val sf = Classify.score(full, held, $"id", $"text", "id")
      .select($"log_odds").as[Double].head()
    assert(si == sf)
  }

  test("modelSink folds a labeled doc stream into the persisted model") {
    val dir = tmp("nbstream")
    val B = 1024
    Classify.initModelLog(
      Classify.trainModel(corpus.limit(0), $"pos", $"text", B), dir)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Boolean, String)]
    val q = Classify.modelSink(
        src.toDF().toDF("id", "pos", "text"), $"pos", $"text", B, dir)
      .option("checkpointLocation", tmp("nbck")).start()
    try {
      src.addData((1L, true, "apple banana apple cherry"),
        (4L, false, "rock sand rock gravel"))
      q.processAllAvailable()
      src.addData((2L, true, "banana apple banana mango"))
      q.processAllAvailable()
      val inc = Classify.loadModel(spark, dir, B)
      val full = Classify.trainModel(
        corpus.filter($"id".isin(1L, 2L, 4L)), $"pos", $"text", B)
      assert(asMap(inc.feat) == asMap(full.feat))
      assert(rows(inc.stats.select($"dpos", $"dneg", $"tpos", $"tneg")) ==
        rows(full.stats.select($"dpos", $"dneg", $"tpos", $"tneg")))
    } finally q.stop()
  }
}
