package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.{CellOf, CellParentAt}

/** Optimizer rule: `cell_parent(cell_of(lat, lon, L1), L2)` with literal
  * levels L2 ≤ L1 collapses to `cell_of(lat, lon, L2)` — truncating the
  * Z-order path equals computing the cell at the coarser grid directly
  * (CellIndexSpec property "parent contains child"), saving one expression
  * evaluation per row in tile→bucket chains. */
object CollapseCellParentOfCellOf extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case CellParentAt(CellOf(lat, lon, Literal(l1: Int, _)), Literal(l2: Int, _)) if l2 <= l1 =>
      CellOf(lat, lon, Literal(l2))
  }
}

/** Session extensions entry point: `.withExtensions(new GraftExtensions)`
  * on a session builder, or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. For an
  * already-running session use
  * `spark.experimental.extraOptimizations ++= Seq(CollapseCellParentOfCellOf)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(_ => CollapseCellParentOfCellOf)
}
