package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.StContains

/** Optimizer rule: a join whose only cross-side predicate is
  * `st_contains(geom, lon, lat)` would be planned as a broadcast
  * nested-loop / cartesian product — O(|points|·|polygons|) with the PIP
  * kernel on every pair. This rule replaces it with the [[PipJoin]] node
  * that [[graft.operators.SpatialOps.pipJoin]] builds, so SQL and the API
  * run the one PIP join ([[PipJoinExec]]: the polygon side broadcast once,
  * a prepared cell → polygon index per task):
  *
  * {{{
  *   points ⋈_{st_contains(g,lon,lat) ∧ rest} polys
  *     ⇒ Project(join output, Filter(rest, PipJoin(points, polys, lon, lat, g, r)))
  * }}}
  *
  * Inner joins only; polygons may sit on either side. Covers stay at the
  * join resolution, so polygons of any extent are exact; polygon sets too
  * large to broadcast fail at Spark's broadcast limits. The geometry leaves
  * the node's output when nothing above reads it. Resolution r via
  * `spark.graft.pip.res` (default 7); a non-integer value fails the query.
  */
case class PipJoinRewrite(sqlConf: org.apache.spark.sql.internal.SQLConf) extends Rule[LogicalPlan] {

  private def res: Int = {
    val v = sqlConf.getConfString("spark.graft.pip.res", "7")
    v.trim.toIntOption.getOrElse(throw new IllegalArgumentException(s"spark.graft.pip.res is not an integer: '$v'"))
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other     => Seq(other)
  }

  private def over(refs: AttributeSet, side: LogicalPlan) = refs.nonEmpty && refs.subsetOf(side.outputSet)

  /** Already has a usable equi conjunct across sides → leave the join alone. */
  private def hasCrossEquiKey(parts: Seq[Expression], l: LogicalPlan, r: LogicalPlan): Boolean =
    parts.exists {
      case EqualTo(a, b) =>
        (over(a.references, l) && over(b.references, r)) || (over(a.references, r) && over(b.references, l))
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner | Cross, Some(cond), _) =>
      val parts = conjuncts(cond)
      if (hasCrossEquiKey(parts, left, right)) j
      else {
        // a st_contains(geom, lon, lat) with geom from one side and lon/lat
        // from the other
        val candidate = parts.collectFirst {
          case sc @ StContains(g, lon, lat) if over(g.references, right) && over(lon.references ++ lat.references, left) =>
            (sc, PipJoin(left, right, lon, lat, g, res, emitGeom = true))
          case sc @ StContains(g, lon, lat) if over(g.references, left) && over(lon.references ++ lat.references, right) =>
            (sc, PipJoin(right, left, lon, lat, g, res, emitGeom = true))
        }
        candidate match {
          case None => j
          case Some((sc, pip)) =>
            val rest = parts.filterNot(_ eq sc)
            Project(j.output, rest.reduceOption(And).fold[LogicalPlan](pip)(Filter(_, pip)))
        }
      }
    case p @ Project(_, pip: PipJoin) if pip.emitGeom && !pip.geom.references.exists(p.references.contains) =>
      p.copy(child = pip.copy(emitGeom = false))
  }
}

/** Session extensions: inject the PIP join rewrite and its planner
  * strategy, and register all graft functions for SQL. Enable with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(session => PipJoinRewrite(session.sessionState.conf))
    e.injectPlannerStrategy(_ => PipJoinStrategy)
    // `--conf spark.sql.extensions=graft.plans.GraftExtensions` alone gives
    // SQL users the whole function surface
    e.injectCheckRule { session =>
      graft.EntryQueries.ensureRegistered(session)
      _ => ()
    }
  }
}
