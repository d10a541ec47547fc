package graft

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Plans Project, Filter and Aggregate over a DSv2 `LocalScan` (the
  * driver-built metadata tables, [[GraftMetaTable]]) as one evaluated
  * `LocalTableScanExec`: the rows are computed here, on the driver, and
  * the query collects without a Spark job. That is the shape Spark's
  * `ConvertToLocalRelation` gives a logical local relation; it cannot give
  * it to a DSv2 scan, because it runs before scans exist.
  *
  * Evaluation uses Spark's interpreted expressions (predicates, mutable
  * projections, each `DeclarativeAggregate`'s initial, update and evaluate
  * expressions), so WHERE, GROUP BY, NULLs and ANSI overflow behave as in
  * Spark's operators. Anything else returns `Nil`, and Spark plans the
  * query as usual: an imperative or DISTINCT aggregate, an aggregate
  * FILTER clause, or a non-deterministic, unevaluable or subquery
  * expression. */
private[graft] object LocalScanStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    rows(plan).map(LocalTableScanExec(plan.output, _, None)).toSeq

  /** `es` bound to `input`, when every one can be evaluated here. */
  private def bound(es: Seq[Expression],
      input: Seq[Attribute]): Option[Seq[Expression]] =
    if (es.exists(e => !e.deterministic || SubqueryExpression.hasSubquery(e)))
      None
    else Some(BindReferences.bindReferences(es, input))
      .filterNot(_.exists(_.exists(_.isInstanceOf[Unevaluable])))

  /** A plain aggregate: declarative, deterministic, no DISTINCT and no
    * FILTER clause. */
  private def declarative(a: AggregateExpression): Boolean = a match {
    case AggregateExpression(_: DeclarativeAggregate, _, false, None, _) =>
      a.deterministic
    case _ => false
  }

  /** The rows `plan` produces, when it is Project, Filter and Aggregate
    * over a local scan. */
  private def rows(plan: LogicalPlan): Option[Seq[InternalRow]] = plan match {
    case DataSourceV2ScanRelation(_, scan: LocalScan, _, _, _) =>
      Some(scan.rows().toSeq)
    case Project(list, child) =>
      for (in <- rows(child); es <- bound(list, child.output)) yield {
        val p = InterpretedMutableProjection.createProjection(es)
        in.map(p(_).copy())
      }
    case Filter(cond, child) =>
      for (in <- rows(child); c <- bound(Seq(cond), child.output)) yield {
        val p = Predicate.createInterpreted(c.head)
        in.filter(p.eval)
      }
    case PhysicalAggregation(keys, aggs, results, child)
        if aggs.forall(declarative) =>
      val fns = aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
      val buffer = fns.flatMap(_.aggBufferAttributes)
      for {
        in <- rows(child)
        key <- bound(keys, child.output)
        init <- bound(fns.flatMap(_.initialValues), Nil)
        update <- bound(fns.flatMap(_.updateExpressions), buffer ++ child.output)
        eval <- bound(fns.map(_.evaluateExpression), buffer)
        result <- bound(results,
          keys.map(_.toAttribute) ++ aggs.map(_.resultAttribute))
      } yield {
        val keyOf = InterpretedUnsafeProjection.createProjection(key)
        val initial = InterpretedMutableProjection.createProjection(init)
        val step = InterpretedMutableProjection.createProjection(update)
        val evaluate = InterpretedMutableProjection.createProjection(eval)
        val project = InterpretedMutableProjection.createProjection(result)
        def fresh() = initial(InternalRow.empty).copy()
        // one buffer per group in first-seen order; a global aggregate
        // has its one group even over no rows
        val groups = mutable.LinkedHashMap.empty[InternalRow, InternalRow]
        if (keys.isEmpty) groups(keyOf(InternalRow.empty).copy()) = fresh()
        in.foreach { r =>
          val buf = groups.getOrElseUpdate(keyOf(r).copy(), fresh())
          step.target(buf)(new JoinedRow(buf, r))
        }
        groups.map { case (k, buf) =>
          project(new JoinedRow(k, evaluate(buf))).copy()
        }.toSeq
      }
    case _ => None
  }
}
