package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan

/** Planner strategy: [[SkylinePlan]] → a final [[SkylineExec]] over a
  * partial one (EnsureRequirements adds the sorts and the exchange),
  * [[SkycubePlan]] → [[SkycubeExec]].
  */
object SkylineStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SkylinePlan(dims, groups, child) =>
      val partial = SkylineExec(dims, groups, partial = true, planLater(child))
      SkylineExec(dims, groups, partial = false, partial) :: Nil
    case cube: SkycubePlan =>
      val names = cube.dimExprs.map {
        case a: org.apache.spark.sql.catalyst.expressions.NamedExpression => a.name
        case e => e.sql
      }
      SkycubeExec(cube.dims, names, cube.subspaceAttr, planLater(cube.child)) :: Nil
    case _ => Nil
  }
}

/** Column pruning through [[SkylinePlan]]: when a Project above the
  * skyline uses a subset of the child's columns, push a Project BELOW
  * the skyline keeping only (projected ∪ dim ∪ group-key) columns — the scan then
  * prunes to those columns (ReadSchema shrinks). Safe because skyline
  * filters rows and never reads columns outside its dims and group keys.
  */
object SkylineColumnPruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(projectList, sky @ SkylinePlan(_, _, child))
        if sky.resolved && p.resolved => {
      val needed = p.references ++ sky.references
      val keep = child.output.filter(needed.contains)
      if (keep.length < child.output.length)
        Project(projectList, sky.copy(child = Project(keep, child)))
      else p
    }
    // Same push-through for the cube: subspace comes from the node
    // itself, so `needed` naturally excludes it from the child filter.
    case p @ Project(projectList, cube: SkycubePlan)
        if cube.resolved && p.resolved => {
      val needed =
        p.references ++ AttributeSet(cube.dimExprs.flatMap(_.references))
      val keep = cube.child.output.filter(needed.contains)
      if (keep.length < cube.child.output.length)
        Project(projectList, cube.copy(child = Project(keep, cube.child)))
      else p
    }
  }
}

/** Session extensions wiring the SKYLINE OF surface into a session at
  * build time:
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)         // or
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * For an already-built session (e.g. one handed to a library), use
  * [[graft.sql.SkylineSql]], which wires the same strategy/rule through
  * the public `spark.experimental` hooks.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))
    ext.injectPlannerStrategy(_ => SkylineStrategy)
    ext.injectOptimizerRule(_ => SkylineColumnPruning)
    graft.sql.GraftFunctions.registrations.foreach(ext.injectFunction)
  }
}
