package graft

import graft.plans.SortBelowProjectRule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

class SortBelowProjectRuleSpec extends SparkSpec {

  /** A parquet table (doc_id, text) of `files` files, ids out of order;
    * `pad` appends that many 128-hex-char digests to each text, which
    * lz4 cannot shrink, so a shuffle of the text grows with it. */
  private def table(files: Int, pad: Int = 0): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sortsink").toString + "/t"
    val digests = (0 until pad).map(i => sha2(concat(col("id"), lit(i)), 512))
    spark.range(0, 240, 1, files)
      .select((col("id") * 97 % 240).as("doc_id"),
        concat(lit("doc ") +: col("id") +: lit(" has aeiou and bcdfg") +: digests: _*).as("text"))
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val src: DataFrame = table(3)

  /** Two select boundaries: `r` feeds two outputs, so CollapseProject
    * keeps the chain. */
  private def scored(df: DataFrame) =
    df.select(col("doc_id"), regexp_replace(col("text"), "[aeiou]", "").as("r"))
      .select(col("doc_id"), length(col("r")).as("n"), upper(col("r")).as("u"))

  private def withoutRule[T](f: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", SortBelowProjectRule.ruleName)
    try f finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def optimized(df: DataFrame): LogicalPlan =
    spark.sessionState.optimizer.execute(df.queryExecution.analyzed)

  private def fired(df: DataFrame): Boolean = optimized(df) != withoutRule(optimized(df))

  private def heavy(list: Seq[NamedExpression]) = list.filterNot(SortBelowProjectRule.trivial)

  test("sinks the Sort below a two-Project pass-through chain") {
    val plan = scored(src).orderBy(col("doc_id")).queryExecution.optimizedPlan
    val sort = plan.collectFirst { case s: Sort => s }.get
    assert(!sort.exists { case p: Project => heavy(p.projectList).nonEmpty; case _ => false },
      plan.treeString)
    val above = plan.collect { case p: Project if heavy(p.projectList).nonEmpty => p }
    assert(above.size == 2 && above.forall(_.exists(_ eq sort)), plan.treeString)
  }

  test("does not fire on nondeterministic, trivial, computed-key, local or spread sorts") {
    val cases = Seq[(String, () => DataFrame)](
      "rand" -> (() => src.select(col("doc_id"), (rand(1) + length(col("text"))).as("x"))
        .orderBy(col("doc_id"))),
      "monotonically_increasing_id" -> (() => src.select(col("doc_id"),
        monotonically_increasing_id().as("m"), upper(col("text")).as("u"))
        .orderBy(col("doc_id"))),
      "trivial" -> (() => src.select(col("doc_id"), col("text").as("t"), lit(1).as("one"))
        .orderBy(col("doc_id"))),
      "computed key" -> (() => scored(src).orderBy(col("doc_id") + 1)),
      "aliased key" -> (() => src.select(col("doc_id").as("k"), upper(col("text")).as("u"))
        .orderBy(col("k"))),
      "sortWithinPartitions" -> (() => scored(src).sortWithinPartitions(col("doc_id"))),
      "repartition(n)" -> (() => scored(src.repartition(4)).orderBy(col("doc_id"))),
      "limit over a two-Project chain" -> (() => scored(src).orderBy(col("doc_id")).limit(5)))
    val wrong = cases.collect { case (name, df) if fired(df()) => name }
    assert(wrong.isEmpty, s"rule fired on: $wrong")
  }

  test("rows and order are identical with and without the rewrite") {
    val builds = Seq[() => DataFrame](
      () => scored(src).orderBy(col("doc_id")),
      () => scored(src).orderBy(col("doc_id").desc),
      () => src.select(col("doc_id"), upper(col("text")).as("u")).orderBy(col("doc_id")).limit(7))
    builds.foreach { b =>
      assert(fired(b()))
      assert(b().collect().toSeq == withoutRule(b().collect().toSeq))
    }
  }

  test("the optimizer reaches its fixed point: the rule is effective once") {
    val qe = scored(src).orderBy(col("doc_id")).queryExecution
    val plan = qe.optimizedPlan
    val summary = qe.tracker.rules(SortBelowProjectRule.ruleName)
    assert(summary.numEffectiveInvocations == 1, summary)
    assert(summary.numInvocations < spark.sessionState.conf.optimizerMaxIterations, summary)
    // the sunk Sort sits directly on the scan: no repartition of its own
    val sort = plan.collectFirst { case s: Sort => s }.get
    assert(sort.child.isInstanceOf[LogicalRelation], plan.treeString)
  }

  private def floor: Long =
    spark.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** Sorts `scored(df)`: the task count of its final stage and the bytes
    * its sort shuffle wrote. */
  private def sortedRun(df: DataFrame): (Int, Long) = {
    val tasks = new java.util.concurrent.ConcurrentSkipListMap[Int, Int]
    val written = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        tasks.put(ev.stageInfo.stageId, ev.stageInfo.numTasks)
        written.addAndGet(ev.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = scored(df).orderBy(col("doc_id")).collect()
      org.apache.spark.graftbridge.Bus.drain(spark.sparkContext)
      assert(out.map(_.getLong(0)).toSeq == (0L until 240L))
    } finally spark.sparkContext.removeSparkListener(l)
    (tasks.lastEntry.getValue, written.get)
  }

  test("the sunk projection runs on shuffle.partitions tasks over a one-file source") {
    // rows wide enough that the sort shuffle exceeds the AQE floor × cores
    val one = table(1, pad = 4)
    assert(one.rdd.getNumPartitions == 1)
    val (tasks, written) = sortedRun(one)
    assert(written > floor * spark.sparkContext.defaultParallelism, s"shuffle wrote $written bytes")
    assert(tasks == spark.sessionState.conf.numShufflePartitions, s"final stage ran $tasks tasks")
  }

  test("a sort shuffle under the partition-size floor runs its projection on one task") {
    val (tasks, written) = sortedRun(src)
    assert(written < floor, s"shuffle wrote $written bytes")
    assert(tasks == 1, s"final stage ran $tasks tasks")
  }

  test("over a single-partition child the sunk Sort adds no exchange") {
    // an un-partitioned window plans one SinglePartition exchange, which
    // already satisfies the sort
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
    val df = src.withColumn("rn", row_number().over(w))
      .select(col("rn"), upper(col("text")).as("u")).orderBy(col("rn"))
    assert(fired(df))
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange ".r.findAllIn(plan).size == 1, plan)
  }

  test("a limit over the sunk Sort still plans TakeOrderedAndProject") {
    val df = src.select(col("doc_id"), upper(col("text")).as("u"))
      .orderBy(col("doc_id")).limit(7)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), plan)
    // the limit over an unsunk two-Project chain keeps it too
    val chained = scored(src).orderBy(col("doc_id")).limit(7).queryExecution.executedPlan
    assert(chained.toString.contains("TakeOrderedAndProject"), chained.toString)
  }

  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def query(name: String): SparkPlan =
    physical(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001"))

  private def exchange(plan: SparkPlan, range: Boolean): Option[ShuffleExchangeExec] =
    plan.collectFirst {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] == range &&
          (range || e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]) => e
    }

  test("r1, c1, ta2: the range exchange sorts scan columns, not scores") {
    for (name <- Seq("r1_ruler_scores", "c1_pii_scan", "ta2_text_stats")) {
      val plan = query(name)
      val range = exchange(plan, range = true).getOrElse(fail(s"$name: no range exchange\n$plan"))
      val below = range.child.collect { case p: ProjectExec => heavy(p.projectList) }.flatten
      assert(below.isEmpty, s"$name: projected below the range exchange: $below\n$plan")
      assert(!range.child.toString.matches("(?is).*(regexp|rlike).*"), s"$name\n$plan")
      assert(plan.toString.matches("(?is).*(regexp|rlike).*"), s"$name\n$plan")
    }
  }

  test("fan sites keep the decode between their round-robin and range exchanges") {
    // m10's decode sits under an explode (a Generate): the rule cannot
    // fire there, so its fan still spreads the decode
    val m10 = query("m10_audio_energy")
    val range = exchange(m10, range = true).getOrElse(fail(s"m10: no range exchange\n$m10"))
    val rr = exchange(range.child, range = false)
      .getOrElse(fail(s"m10: no round-robin exchange below the sort\n$m10"))
    // the clip decode reads unhex(...) of the doc's variant
    assert(range.child.toString.contains("unhex") && !rr.child.toString.contains("unhex"),
      s"m10: decode must run between the two exchanges\n$m10")
    // m11 has no fan: the sunk sort runs its decode after the range exchange
    val m11 = query("m11_png_pixel_decode")
    val sorted = exchange(m11, range = true).getOrElse(fail(s"m11: no range exchange\n$m11"))
    assert(exchange(m11, range = false).isEmpty, s"m11: round-robin exchange\n$m11")
    assert(!sorted.child.toString.contains("unhex") && m11.toString.contains("unhex"),
      s"m11: decode must run after the range exchange\n$m11")
  }
}
