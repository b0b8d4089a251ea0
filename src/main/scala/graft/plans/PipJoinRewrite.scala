package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, JoinType}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

import graft.functions.{StCellCover, StCellId, StContains}

/** Optimizer rule: a join whose only cross-side predicate is
  * `st_contains(geom, lon, lat)` would be planned as a broadcast
  * nested-loop / cartesian product — O(|points|·|polygons|) with the PIP
  * kernel on every pair. This rule rewrites it into the cell-prefilter form
  * the API-level [[graft.operators.SpatialOps.pipJoin]] builds explicitly:
  *
  * {{{
  *   points ⋈_{st_contains(g,lon,lat)} polys
  *     ⇒ points ⋈_{st_cellid(lon,lat,r) = c ∧ st_contains(g,lon,lat)}
  *         Generate(explode(st_cellcover(g, r)) AS c, polys)
  * }}}
  *
  * The cover is a superset of the geometry, each point maps to exactly one
  * cell, and cover cells are distinct per polygon — so the equi-join +
  * residual is row-equivalent to the theta-join (inner joins only). A
  * polygon whose cover at res exceeds 4096 cells fails the query with a
  * clear error rather than coarsening into cells no point can match.
  * Catalyst then plans a hash join (broadcast or shuffled, by stats/AQE)
  * instead of a nested loop. Resolution res via `spark.graft.pip.res`
  * (default 7).
  *
  * The rule keeps this cell-join form rather than the prepared
  * [[graft.core.PipIndex]] of `pipJoin`'s broadcast path: building that
  * index collects the polygons, and an optimizer rule cannot run jobs.
  */
case class PipJoinRewrite(sqlConf: org.apache.spark.sql.internal.SQLConf) extends Rule[LogicalPlan] {

  private def res: Int =
    try sqlConf.getConfString("spark.graft.pip.res", "7").toInt
    catch { case _: NumberFormatException => 7 }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other     => Seq(other)
  }

  /** Already has a usable equi conjunct across sides (incl. our own cell
    * key after a rewrite) → leave the join alone. */
  private def hasCrossEquiKey(parts: Seq[Expression], l: LogicalPlan, r: LogicalPlan): Boolean =
    parts.exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet) &&
          a.references.nonEmpty && b.references.nonEmpty) ||
          (a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet) &&
            a.references.nonEmpty && b.references.nonEmpty)
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, jt @ (Inner | Cross), Some(cond), hint) =>
      val parts = conjuncts(cond)
      if (hasCrossEquiKey(parts, left, right)) j
      else {
        // find a st_contains(geom, lon, lat) with geom from one side and
        // lon/lat from the other
        val candidate = parts.collectFirst {
          case sc @ StContains(g, lon, lat)
              if g.references.nonEmpty && (lon.references.nonEmpty || lat.references.nonEmpty) &&
                g.references.subsetOf(right.outputSet) &&
                (lon.references ++ lat.references).subsetOf(left.outputSet) =>
            (sc, g, lon, lat, false) // polys on the right
          case sc @ StContains(g, lon, lat)
              if g.references.nonEmpty && (lon.references.nonEmpty || lat.references.nonEmpty) &&
                g.references.subsetOf(left.outputSet) &&
                (lon.references ++ lat.references).subsetOf(right.outputSet) =>
            (sc, g, lon, lat, true) // polys on the left
        }
        candidate match {
          case None => j
          case Some((_, g, lon, lat, polysOnLeft)) =>
            val cellAttr = AttributeReference("__pip_cell", LongType, nullable = false)()
            val cover = Explode(StCellCover(g, Literal(res), Literal(4096), atMost = true))
            val polySide = if (polysOnLeft) left else right
            val gen = Generate(cover, unrequiredChildIndex = Nil, outer = false,
              qualifier = None, generatorOutput = Seq(cellAttr), child = polySide)
            val cellKey = EqualTo(StCellId(lon, lat, Literal(res)), cellAttr)
            val newCond = (cellKey +: parts).reduce(And)
            val newJoin =
              if (polysOnLeft) Join(gen, right, Inner, Some(newCond), hint)
              else Join(left, gen, Inner, Some(newCond), hint)
            Project(j.output, newJoin)
        }
      }
  }
}

/** Session extensions: inject the PIP join rewrite + register all graft
  * functions for SQL. Enable with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(session => PipJoinRewrite(session.sessionState.conf))
    // register the full st_* / codec function surface on session creation,
    // so `--conf spark.sql.extensions=graft.plans.GraftExtensions` alone
    // gives SQL users the whole engine
    e.injectCheckRule { session =>
      graft.functions.st.registerAll(session)
      graft.functions.codecs.registerAll(session)
      _ => ()
    }
  }
}
