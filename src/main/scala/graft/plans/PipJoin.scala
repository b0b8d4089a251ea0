package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

import graft.core.PipIndex

/** The PIP join: each `points` row paired with every `polys` row whose
  * geometry contains it (`st_contains(geom, lon, lat)`). `lon`/`lat` are
  * doubles over `points`, `geom` is WKB over `polys` and `res` is the cell
  * resolution of the [[PipIndex]] lookup. Output: the point columns, then
  * the polygon columns except those `geom` reads, unless `emitGeom`.
  * [[graft.operators.SpatialOps.pipJoin]] and [[PipJoinRewrite]] build it;
  * [[PipJoinStrategy]] plans it as [[PipJoinExec]].
  */
case class PipJoin(points: LogicalPlan, polys: LogicalPlan,
    lon: Expression, lat: Expression, geom: Expression, res: Int, emitGeom: Boolean)
    extends BinaryNode {
  override def left: LogicalPlan = points
  override def right: LogicalPlan = polys
  override def output: Seq[Attribute] = PipJoin.output(points, polys, geom, emitGeom)
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): PipJoin =
    copy(points = l, polys = r)
}

object PipJoin {
  def output(points: QueryPlan[_], polys: QueryPlan[_], geom: Expression, emitGeom: Boolean): Seq[Attribute] =
    points.output ++ (if (emitGeom) polys.output else polys.output.filterNot(geom.references.contains))
}

/** [[PipJoin]] over one broadcast of the polygon rows: the polygon child
  * asks for `BroadcastDistribution(IdentityBroadcastMode)`, as
  * `BroadcastNestedLoopJoinExec` does, so `EnsureRequirements` places the
  * exchange and AQE reuses it. Each task prepares a [[PipIndex]] at `res`
  * from the rows' geometry (a custom `BroadcastMode` cannot carry it:
  * `BroadcastExchangeExec` takes only a `HashedRelation` or the row array,
  * and one exchange may serve joins at different resolutions). A null
  * coordinate or geometry matches nothing.
  */
case class PipJoinExec(points: SparkPlan, polys: SparkPlan,
    lon: Expression, lat: Expression, geom: Expression, res: Int, emitGeom: Boolean)
    extends BinaryExecNode {
  override def left: SparkPlan = points
  override def right: SparkPlan = polys
  override def output: Seq[Attribute] = PipJoin.output(points, polys, geom, emitGeom)
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil
  override def outputPartitioning: Partitioning = points.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val rowsBc = polys.executeBroadcast[Array[InternalRow]]()
    val wkb = BindReferences.bindReference(geom, polys.output)
    val (x, y, r, pointsOut, polysOut, out) = (lon, lat, res, points.output, polys.output, output)
    points.execute().mapPartitions { iter =>
      val rows = rowsBc.value
      val index = PipIndex.build(rows.map(p => wkb.eval(p).asInstanceOf[Array[Byte]]), r)
      val xy = UnsafeProjection.create(Seq(x, y), pointsOut)
      val project = UnsafeProjection.create(out, pointsOut ++ polysOut)
      val joined = new JoinedRow
      iter.flatMap { pt =>
        val c = xy(pt)
        if (c.isNullAt(0) || c.isNullAt(1)) Iterator.empty
        else index.matches(c.getDouble(0), c.getDouble(1)).iterator.map(k => project(joined(pt, rows(k))))
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): PipJoinExec =
    copy(points = l, polys = r)
}

/** Plans [[PipJoin]]; [[GraftExtensions]] injects it, [[setup]] adds it to
  * any session once. */
object PipJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: PipJoin =>
      PipJoinExec(planLater(j.points), planLater(j.polys), j.lon, j.lat, j.geom, j.res, j.emitGeom) :: Nil
    case _ => Nil
  }

  def setup(session: SparkSession): Unit = {
    val methods = session.experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(this)) methods.extraStrategies = this +: methods.extraStrategies
    }
  }
}
