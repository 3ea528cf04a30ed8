package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Rewrites the latest-per-group idiom
  *
  * {{{ Filter(rn = 1, Window(row_number over (partition p order by k), child)) }}}
  *
  * into a `max_by`/`min_by` aggregation over the same child. The window
  * formulation shuffles AND sorts every partition's full row set; the
  * aggregate form gets map-side partial aggregation and no sort — at
  * 100 TB (billions of rows, millions of groups) that is the difference
  * between a top-k-per-key scan and a global per-group sort (SURVEY §4
  * "custom needs").
  *
  * Guards: single row_number window expression; filter exactly `rn = 1`
  * (or `rn <= 1`); all order keys in the same direction (DESC → max_by,
  * ASC → min_by) and non-nullable (max_by's null placement differs from
  * row_number's NULLS FIRST/LAST). Ties behave like the window version:
  * one arbitrary winner (callers wanting determinism include a unique
  * tiebreaker key, as CurrentPointer does).
  *
  * Registered through [[GraftExtensions]] or
  * `spark.experimental.extraOptimizations`.
  */
object RewriteLatestPerGroup extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Filter(cond,
        Window(Seq(alias @ Alias(
          WindowExpression(_: RowNumber, WindowSpecDefinition(part, order, _)), _)),
        _, _, child, _))
        if isRnEqOne(cond, alias.toAttribute) && rewritable(order) =>
      val descending = order.head.direction == Descending
      val key =
        if (order.length == 1) order.head.child
        else CreateStruct(order.map(_.child))
      val aggExprs: Seq[NamedExpression] = child.output.map { a =>
        if (part.exists(_.semanticEquals(a))) a
        else {
          val agg = if (descending) MaxBy(a, key) else MinBy(a, key)
          Alias(agg.toAggregateExpression(), a.name)(exprId = a.exprId)
        }
      } :+ Alias(Literal(1), alias.name)(exprId = alias.exprId)
      Aggregate(part, aggExprs, child)
  }

  private def isRnEqOne(cond: Expression, rn: Attribute): Boolean = cond match {
    case EqualTo(a: Attribute, Literal(1, _)) => a.semanticEquals(rn)
    case EqualTo(Literal(1, _), a: Attribute) => a.semanticEquals(rn)
    case LessThanOrEqual(a: Attribute, Literal(1, _)) => a.semanticEquals(rn)
    case _ => false
  }

  private def rewritable(order: Seq[SortOrder]): Boolean =
    order.nonEmpty &&
      order.forall(o => o.direction == order.head.direction && !o.child.nullable) &&
      // struct ordering compares fields in sequence — consistent with the
      // lexicographic multi-key sort only when directions are uniform
      order.forall(_.sameOrderExpressions.isEmpty)
}
