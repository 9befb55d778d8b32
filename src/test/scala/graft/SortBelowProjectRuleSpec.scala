package graft

import graft.plans.SortBelowProjectRule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class SortBelowProjectRuleSpec extends SparkSpec {

  /** A three-file parquet table (doc_id, text), ids out of order. */
  private lazy val src: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sortsink").toString + "/t"
    spark.range(0, 240, 1, 3)
      .select((col("id") * 97 % 240).as("doc_id"),
        concat(lit("doc "), col("id"), lit(" has aeiou and bcdfg")).as("text"))
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

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
    qe.optimizedPlan
    val summary = qe.tracker.rules(SortBelowProjectRule.ruleName)
    assert(summary.numEffectiveInvocations == 1, summary)
    assert(summary.numInvocations < spark.sessionState.conf.optimizerMaxIterations, summary)
  }

  test("a limit over the sunk Sort still plans TakeOrderedAndProject") {
    val df = src.select(col("doc_id"), upper(col("text")).as("u"))
      .orderBy(col("doc_id")).limit(7)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
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
    for (name <- Seq("m10_audio_energy", "m11_png_pixel_decode")) {
      val plan = query(name)
      val range = exchange(plan, range = true).getOrElse(fail(s"$name: no range exchange\n$plan"))
      val rr = exchange(range.child, range = false)
        .getOrElse(fail(s"$name: no round-robin exchange below the sort\n$plan"))
      // the clip decode reads unhex(...) of the doc's variant
      assert(range.child.toString.contains("unhex") && !rr.child.toString.contains("unhex"),
        s"$name: decode must run between the two exchanges\n$plan")
    }
  }
}
