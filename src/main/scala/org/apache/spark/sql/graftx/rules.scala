package org.apache.spark.sql.graftx

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Derive a pushdown-able bounding-box pre-filter from polygon gates.
  *
  * `point_in_polygon(x, y, …)` is an opaque expression to the parquet
  * source — the scan reads every row group. But polygon membership
  * implies the point lies in the polygon's bounding box, and the bbox
  * test is four plain range comparisons that DO reach
  * `PushedFilters`, so row groups wholly outside the box are skipped
  * at the footer level. At 100 TB that's the difference between
  * scanning the full events matrix and only the gate's neighborhood.
  *
  * Only top-level conjuncts are rewritten (a gate under OR/NOT does
  * not imply its bbox). Idempotent: the added predicates are detected
  * semantically on re-runs, so the rule reaches a fixpoint.
  */
object PolygonGateBBoxRule extends Rule[LogicalPlan] {

  private def bboxOf(p: PointInPolygon): Seq[Expression] = Seq(
    GreaterThanOrEqual(p.x, Literal(p.xs.min)),
    LessThanOrEqual(p.x, Literal(p.xs.max)),
    GreaterThanOrEqual(p.y, Literal(p.ys.min)),
    LessThanOrEqual(p.y, Literal(p.ys.max)))

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val cs = conjuncts(cond)
      val missing = cs.collect { case p: PointInPolygon => p }
        .flatMap(bboxOf)
        .filterNot(b => cs.exists(_.semanticEquals(b)))
      if (missing.isEmpty) f
      else Filter(missing.foldLeft(cond)(And(_, _)), child)
  }
}
