package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftbridge.GraftBridge

/** Whole-operator extension tier (SURVEY.md §7.3 option c): grouped
  * top-k as a first-class operator — logical node, planner strategy,
  * and a two-phase physical operator, registered through
  * `SparkSessionExtensions`.
  *
  * Semantics: for each distinct `key`, emit the k child rows with the
  * highest `order` value (ties broken arbitrarily — supply a distinct
  * order expression for full determinism). The partial stage keeps at
  * most k rows per (key, partition) in bounded heaps, so the shuffle
  * moves ≤ k·keys·partitions rows — the partial/final shape Spark uses
  * for aggregates, applied to top-k.
  *
  * Spark 4 plans the `row_number().over(window) <= k` formulation with
  * the same two stages (a partial `WindowGroupLimit` before the
  * exchange, a final one after), so both trim map-side. The difference
  * is the per-partition work: `WindowGroupLimit` sorts every partition
  * by (key, order) on both sides of the exchange, where this operator
  * keeps bounded heaps and sorts nothing. On v6 at sf0.1, local[4],
  * 20 alternating `graft.Profile` pairs with identical rows, that is
  * 410 vs 506 ms median wall, lower in 20/20 (COVERAGE.md §plans).
  */
case class TopKPerKey(key: Expression, order: Expression, k: Int,
                      child: LogicalPlan) extends UnaryNode {
  require(k > 0)
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Two-phase physical operator. `partial = true` instances run before
  * the exchange (no distribution requirement, bounded per-partition
  * trim); the `partial = false` instance requires clustering on `key`,
  * so EnsureRequirements inserts exactly one hash exchange between the
  * two — the aggregate-style plan, derived not hand-scheduled.
  */
case class TopKPerKeyExec(key: Expression, order: Expression, k: Int,
                          partial: Boolean, child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(Seq(key)))

  // mapPartitions preserves the child's partitioning, and advertising it
  // lets EnsureRequirements reuse the final stage's hash exchange for a
  // downstream Window/aggregate on the same key instead of adding a
  // second one.
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val kLocal = k
    val keyExpr = key
    val orderExpr = order
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(Seq(keyExpr), childOutput)
      val boundOrder = BindReferences.bindReference(orderExpr, childOutput)
      // per-key bounded min-heaps: O(keys · k) memory per partition
      val heaps = new java.util.HashMap[UnsafeRow,
        java.util.PriorityQueue[(Double, InternalRow)]]()
      val cmp = java.util.Comparator.comparingDouble[(Double, InternalRow)](_._1)
      iter.foreach { row =>
        val ord = boundOrder.eval(row)
        if (ord != null) {
          val keyRow = keyProj(row)
          var heap = heaps.get(keyRow)
          if (heap == null) {
            heap = new java.util.PriorityQueue[(Double, InternalRow)](kLocal + 1, cmp)
            heaps.put(keyRow.copy(), heap)
          }
          val d = ord.asInstanceOf[Double]
          if (heap.size < kLocal) heap.add((d, row.copy()))
          else if (cmp.compare((d, row), heap.peek()) > 0) {
            heap.poll(); heap.add((d, row.copy()))
          }
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala.map(_._2))
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner rule: logical TopKPerKey → partial exec under final exec. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(key, order, k, child) =>
      TopKPerKeyExec(key, order, k, partial = false,
        TopKPerKeyExec(key, order, k, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {
  /** Public API: top-k rows per key by `order` (cast to double; null
    * order rows drop). Requires [[TopKPerKeyStrategy]] registered
    * (GraftSession does, via GraftExtensions). Unresolved column refs
    * resolve against `df` during analysis of the returned plan.
    */
  def apply(df: DataFrame, key: Column, order: Column, k: Int): DataFrame =
    GraftBridge.ofRows(df.sparkSession,
      TopKPerKey(
        GraftBridge.catalystExpression(key),
        GraftBridge.catalystExpression(order.cast("double")),
        k, GraftBridge.logicalPlan(df)))
}
