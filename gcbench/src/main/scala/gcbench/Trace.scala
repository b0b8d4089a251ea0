package gcbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced call into a layer. Counters of the Spark query layer are
  * attributed to a span through the job group the span sets while it runs. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    startNs: Long, endNs: Long, query: QueryStats) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Query-layer counters of one job group. */
final case class QueryStats(
    jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    shuffleWriteB: Long = 0, shuffleReadB: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, schedDelayMs: Long = 0,
    widestStageTaskMs: Vector[Long] = Vector.empty, inputRecords: Long = 0) {
  def +(o: QueryStats): QueryStats = QueryStats(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    shuffleWriteB + o.shuffleWriteB, shuffleReadB + o.shuffleReadB,
    cpuNs + o.cpuNs, gcMs + o.gcMs, schedDelayMs + o.schedDelayMs,
    if (o.widestStageTaskMs.length > widestStageTaskMs.length) o.widestStageTaskMs else widestStageTaskMs,
    inputRecords + o.inputRecords)
  /** Longest over median task time in the stage with the most tasks. */
  def taskSkew: Double =
    if (widestStageTaskMs.isEmpty) 1.0
    else widestStageTaskMs.max.toDouble / math.max(1.0, Stats.median(widestStageTaskMs.map(_.toDouble)))
}

/** Listener that sums stage and task metrics per job group. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, QueryStats]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val delayMs = mutable.Map.empty[Int, Long]

  private def upd(g: String)(f: QueryStats => QueryStats): Unit =
    byGroup(g) = f(byGroup.getOrElse(g, QueryStats()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup(s) = g)
    upd(g)(q => q.copy(jobs = q.jobs + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    if (m != null) {
      val d = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      delayMs(e.stageId) = delayMs.getOrElse(e.stageId, 0L) + math.max(0L, d)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val g = stageGroup.getOrElse(si.stageId, "")
    val m = si.taskMetrics
    val durations = taskMs.remove(si.stageId).map(_.toVector).getOrElse(Vector.empty)
    val delay = delayMs.remove(si.stageId).getOrElse(0L)
    upd(g)(q => q + QueryStats(0, 1, si.numTasks,
      if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0 else m.executorCpuTime,
      if (m == null) 0 else m.jvmGCTime,
      delay, durations,
      if (m == null) 0 else m.inputMetrics.recordsRead))
  }

  def take(g: String): QueryStats = synchronized(byGroup.remove(g).getOrElse(QueryStats()))
}

/** Span recorder. Disabled, `span` just runs its body. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val groups = new GroupListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var iter = 0

  if (enabled) {
    spark.sparkContext.addSparkListener(groups)
  }

  private def setGroup(id: Option[Int]): Unit = id match {
    case Some(i) => spark.sparkContext.setJobGroup(s"gcbench-span-$i", s"gcbench span $i")
    case None => spark.sparkContext.clearJobGroup()
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      org.apache.spark.gcbench.Bus.drain(spark.sparkContext)
      stack = id :: stack
      setGroup(Some(id))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        setGroup(stack.headOption)
        org.apache.spark.gcbench.Bus.drain(spark.sparkContext)
        spans += Span(id, name, parent, iter, t0, t1, groups.take(s"gcbench-span-$id"))
      }
    }

  def all: Vector[Span] = spans.toVector

  /** Duration minus the durations of direct children. */
  def selfSeconds(s: Span): Double = s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}
