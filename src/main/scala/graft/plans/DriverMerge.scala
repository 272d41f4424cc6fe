package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences, EmptyRow, InterpretedMutableProjection, InterpretedUnsafeProjection, JoinedRow, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, Final, Partial}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.{AggUtils, BaseAggregateExec}

/** Planner strategy: a grouping-free aggregate merges its partial rows on
  * the driver, as the reference's host adds each DPU's `sum_result`
  * (`host/aggr/aggr_dpu.cc:82-85`).
  *
  * Spark plans `SUM`, `count()` and every other aggregate without grouping
  * keys as partial → `Exchange SinglePartition` → final: one more job and
  * a one-task stage, plus an adaptive re-plan, to add one row per
  * partition. Here the partial aggregate runs as the only job and
  * [[DriverMergeExec]] merges the rows it collects.
  *
  * Spark's plan is kept for streaming plans, DISTINCT aggregates, any
  * function that is not a `DeclarativeAggregate` (typed and imperative
  * buffers such as `collect_list` or `percentile_approx` can grow without
  * bound, so they merge in an executor) and expressions holding a
  * subquery.
  */
object DriverMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(Seq(), aggs, result, child)
        if !plan.isStreaming && aggs.forall(mergeable) &&
          !(aggs ++ result).exists(_.exists(_.isInstanceOf[SubqueryExpression])) =>
      AggUtils.planAggregateWithoutDistinct(Nil, aggs, result, planLater(child)) match {
        case Seq(fin: BaseAggregateExec)
            if fin.aggregateExpressions.forall(_.mode == Final) && partialAgg(fin.child) =>
          DriverMergeExec(fin.aggregateExpressions, fin.aggregateAttributes,
            fin.resultExpressions, fin.child) :: Nil
        case _ => Nil
      }
    case _ => Nil
  }

  private def mergeable(a: AggregateExpression): Boolean =
    !a.isDistinct && a.aggregateFunction.isInstanceOf[DeclarativeAggregate]

  private def partialAgg(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.aggregateExpressions.forall(_.mode == Partial)
    case _ => false
  }
}

/** The final step of a grouping-free aggregate, run on the driver.
  *
  * `child` is the partial aggregate, which emits one fixed-width buffer
  * row per partition. `executeCollect` collects those rows in one job and
  * folds them with the functions' merge expressions; with no partitions
  * at all the initial buffer yields the empty-input row (`count` 0, `sum`
  * NULL). The input is a handful of rows, so the projections are
  * interpreted, not compiled. The output is one row in one partition, so
  * no exchange is planned above the partial aggregate.
  */
case class DriverMergeExec(
    aggregateExpressions: Seq[AggregateExpression],
    aggregateAttributes: Seq[Attribute],
    resultExpressions: Seq[NamedExpression],
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  // the partial buffers come in; the aggregate values are made here
  override def references: AttributeSet =
    AttributeSet(aggregateExpressions.flatMap(_.aggregateFunction.inputAggBufferAttributes))
  override def producedAttributes: AttributeSet = AttributeSet(aggregateAttributes)

  override def simpleString(maxFields: Int): String =
    s"$nodeName(functions=${truncatedString(aggregateExpressions, "[", ", ", "]", maxFields)}, " +
      s"output=${truncatedString(output, "[", ", ", "]", maxFields)})"

  private def merge(partials: Array[InternalRow]): InternalRow = {
    val fns = aggregateExpressions.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val bufferAttrs = fns.flatMap(_.aggBufferAttributes)
    val buffer = new InterpretedMutableProjection(fns.flatMap(_.initialValues), Nil)(EmptyRow)
    val mergeInto = new InterpretedMutableProjection(
      fns.flatMap(_.mergeExpressions), bufferAttrs ++ child.output).target(buffer)
    val joined = new JoinedRow
    partials.foreach(p => mergeInto(joined(buffer, p)))
    val evaluate = new InterpretedMutableProjection(fns.map(_.evaluateExpression), bufferAttrs)
    val project = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(resultExpressions, aggregateAttributes))
    evaluate.initialize(0)
    project.initialize(0)
    project(evaluate(buffer)).copy()
  }

  override def executeCollect(): Array[InternalRow] = Array(merge(child.executeCollect()))

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildInternal(c: SparkPlan): DriverMergeExec = copy(child = c)
}
