package graft.plans

import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CodegenSupport, ColumnarRule, ColumnarToRowExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.TableCacheQueryStageExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}

/** Columnar rule: whole-stage codegen reads cached columns as vectors.
  *
  * Spark's in-memory scan reports `supportsRowBased`, so the planner never
  * inserts a `ColumnarToRow` above it and a fused stage pulls every cached
  * row through the generated `SpecificColumnarIterator`, which assembles
  * one UnsafeRow per row (the reference's kernels stream the `uint32`
  * column arrays instead, SURVEY §1.1). This rule wraps a cached scan in
  * `ColumnarToRowExec` when its parent fuses into the same codegen stage,
  * so the stage loops over the cache's column vectors directly, as it does
  * over a vectorized parquet scan.
  *
  * Every other cached scan keeps the row reader. Under an exchange,
  * vectors measured slower (the shuffle writer wants UnsafeRows anyway).
  * At a plan's root they measured slower too: a lone `ColumnarToRow`
  * stage buffers every row through `BufferedRowIterator`, and so would a
  * scan directly under a shuffled join, whose children form stages of
  * their own. Non-primitive columns have no columnar cache output, and
  * with whole-stage codegen off nothing fuses.
  *
  * It runs after Spark inserts its transitions, and again on every
  * adaptive query stage; under AQE each cached scan is a
  * `TableCacheQueryStageExec`. A scan that is already wrapped has the
  * transition, not a fusing operator, as its parent, so a second pass
  * leaves it alone.
  */
object ColumnarCacheRead extends ColumnarRule {

  override def postColumnarTransitions: Rule[SparkPlan] = WrapCachedScans

  /** A cached scan that can emit column batches: primitive columns and the
    * vectorized cache reader on.
    */
  def vectorCache(plan: SparkPlan): Boolean = plan match {
    case s: InMemoryTableScanExec => s.supportsColumnar
    case s: TableCacheQueryStageExec =>
      s.plan.isInstanceOf[InMemoryTableScanExec] && s.supportsColumnar
    case _ => false
  }

  private object WrapCachedScans extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan =
      if (!conf.wholeStageEnabled) plan
      else plan.transformUp {
        case p: CodegenSupport if p.children.exists(vectorCache) && fuses(p) =>
          p.withNewChildren(p.children.map(c => if (vectorCache(c)) ColumnarToRowExec(c) else c))
      }

    // the checks CollapseCodegenStages makes before it fuses an operator
    // with its children; a transition or a collapsed stage's own plumbing
    // is no consumer, and the two shuffled joins start a stage per child
    private def fuses(p: SparkPlan with CodegenSupport): Boolean = p match {
      case _: ColumnarToRowExec | _: InputAdapter | _: WholeStageCodegenExec |
          _: SortMergeJoinExec | _: ShuffledHashJoinExec => false
      case _ => !p.supportsColumnar && p.supportCodegen &&
        !p.expressions.exists(_.exists {
          case _: LeafExpression => false
          case e => e.isInstanceOf[CodegenFallback]
        }) &&
        (p +: p.children).forall(q => !WholeStageCodegenExec.isTooManyFields(conf, q.schema))
    }
  }
}
