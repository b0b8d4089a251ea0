package graft.obs

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{JArr, JBool, JNum, JObj, JStr, JValue}

/** Query-layer counters of one record. The scheduler part (jobs through
  * spill) sums the stages of the record's job group; the plan part sums,
  * over every action the session ran while the record was open, the final
  * physical plan's nodes. A reused exchange counts once, where it was
  * built; a cached or checkpointed input's plan counts in the action that
  * materialized it. */
final case class QueryStats(
    jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    cpuNs: Long = 0, gcMs: Long = 0,
    shuffleReadB: Long = 0, shuffleWriteB: Long = 0, spillB: Long = 0,
    actions: Int = 0, exchanges: Int = 0, broadcasts: Int = 0,
    nestedLoopJoins: Int = 0, codegenStages: Int = 0)

/** What one query did: its [[QueryStats]] and, in call order, every
  * runtime decision its operators reported through [[graft.obs.decision]]
  * (operator name, then key → value). */
final case class Record(query: QueryStats, decisions: Vector[(String, Vector[(String, Any)])]) {

  /** The values of each `op` decision, in call order. */
  def of(op: String): Vector[Map[String, Any]] =
    decisions.collect { case (`op`, kv) => kv.toMap }

  def toJson: JObj = {
    def value(v: Any): JValue = v match {
      case b: Boolean => JBool(b)
      case n: Int => JNum(n.toDouble)
      case n: Long => JNum(n.toDouble)
      case d: Double => JNum(d)
      case xs: Iterable[_] => JArr(xs.iterator.map(value).toVector)
      case other => JStr(String.valueOf(other))
    }
    val q = query
    JObj.of(
      "jobs" -> JNum(q.jobs), "stages" -> JNum(q.stages), "tasks" -> JNum(q.tasks),
      "cpu_ms" -> JNum((q.cpuNs / 1000000L).toDouble), "gc_ms" -> JNum(q.gcMs.toDouble),
      "shuffle_read_b" -> JNum(q.shuffleReadB.toDouble),
      "shuffle_write_b" -> JNum(q.shuffleWriteB.toDouble),
      "spill_b" -> JNum(q.spillB.toDouble),
      "actions" -> JNum(q.actions), "exchanges" -> JNum(q.exchanges),
      "broadcasts" -> JNum(q.broadcasts), "bnlj" -> JNum(q.nestedLoopJoins),
      "codegen_stages" -> JNum(q.codegenStages),
      "decisions" -> JArr(decisions.map { case (op, kv) =>
        JObj((("op" -> JStr(op)) +: kv.map { case (k, v) => k -> value(v) }))
      }))
  }
}

/** The open record: both listeners and the decision buffer. The listeners
  * are registered only while it is open. */
private[obs] final class Recorder(val group: String)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private var stats = QueryStats()
  private val stageIds = mutable.Set.empty[Int]
  private val decisions = Vector.newBuilder[(String, Vector[(String, Any)])]

  def decide(op: String, kv: Seq[(String, Any)]): Unit = synchronized { decisions += ((op, kv.toVector)) }

  def result(): Record = synchronized(Record(stats, decisions.result()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g == group) {
      stageIds ++= e.stageIds
      stats = stats.copy(jobs = stats.jobs + 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (stageIds.remove(si.stageId) && m != null) stats = stats.copy(
      stages = stats.stages + 1, tasks = stats.tasks + si.numTasks,
      cpuNs = stats.cpuNs + m.executorCpuTime, gcMs = stats.gcMs + m.jvmGCTime,
      shuffleReadB = stats.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteB = stats.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
      spillB = stats.spillB + m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes: Seq[SparkPlan] = collectWithSubqueries(qe.executedPlan) { case p => p }
    def n(f: SparkPlan => Boolean): Int = nodes.count(f)
    synchronized {
      stats = stats.copy(actions = stats.actions + 1,
        exchanges = stats.exchanges + n(_.isInstanceOf[ShuffleExchangeLike]),
        broadcasts = stats.broadcasts + n(_.isInstanceOf[BroadcastExchangeLike]),
        nestedLoopJoins = stats.nestedLoopJoins + n(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
        codegenStages = stats.codegenStages + n(_.isInstanceOf[WholeStageCodegenExec]))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
