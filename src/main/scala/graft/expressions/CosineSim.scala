package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns — the §4.2/§7.3 "custom Expression beats a
  * Scala UDF" tier (SURVEY.md; reference semantics RAG/rag.ipynb:488-530).
  *
  * Versus the higher-order-function formulation (VectorFunctions.cosine),
  * this evaluates in ONE fused loop with no per-element lambda dispatch
  * and no intermediate arrays, and it participates in whole-stage codegen
  * via [[doGenCode]]. Versus a Scala UDF it avoids the
  * serialization/boxing boundary entirely.
  *
  * Semantics pinned to VectorFunctions.cosine: left-to-right double
  * accumulation (identical summation order ⇒ identical doubles), shorter
  * array bounds the loop, zero-norm input ⇒ NULL (matching non-ANSI SQL
  * division-by-zero).
  */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val denom = ctx.freshName("denom")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $na = 0.0, $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double xi = (double) $a.getFloat($i);
          double yi = (double) $b.getFloat($i);
          $dot += xi * yi; $na += xi * xi; $nb += yi * yi;
        }
        double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
        if ($denom == 0.0) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $dot / $denom;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(
      CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** Session extension registering graft's native expressions so they are
  * callable from SQL (`SELECT cosine_sim(a, b)`) — install with
  * `.withExtensions(new GraftExtensions)` (GraftSession does).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSim(children.head, children(1))))
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => graft.plans.SortBelowProjectRule)
  }
}
