package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchSqlBridge
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One span: a named interval (epoch nanoseconds) inside an operation,
  * with the span that caused it (`parent`, -1 for a root).
  */
final case class Span(id: Int, name: String, op: String, parent: Int,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the benchmark's own calls into each layer, kept in
  * memory. The client is one thread, so the open-span stack gives each
  * span its parent. Disabled, every method just runs its body.
  */
final class Tracer(var enabled: Boolean) {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  def spans: Seq[Span] = buf.toSeq

  /** Record `body` as a span named `name` under operation `op`. */
  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val start = now()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        buf += Span(id, name, op, parent, start, now())
      }
    }
}

/** Spark's task and stage metrics, attributed to operations. Stages map
  * to jobs through `SparkListenerJobStart.stageInfos`, jobs to operations
  * through the job group the client sets around each operation; SQL
  * executions carry the same group and give planning time and plan shape.
  * Nothing is attributed by time.
  */
final class Events extends SparkListener {
  import Events._

  private val lock = new Object
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val execGroup = scala.collection.mutable.HashMap.empty[Long, String]
  private val execs = ArrayBuffer.empty[Exec]

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, group, e.time * 1000000L, e.time * 1000000L)
    // a stage listed by several jobs runs once, under the first of them
    e.stageInfos.foreach(si => if (!stageJob.contains(si.stageId)) stageJob(si.stageId) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val si = e.stageInfo
    stages += StageRec(si.stageId, stageJob.getOrElse(si.stageId, -1),
      si.submissionTime.getOrElse(0L) * 1000000L, si.completionTime.getOrElse(0L) * 1000000L,
      si.numTasks, si.rddInfos.exists(_.name == "DataSourceRDD"), si.failureReason.isDefined)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    val failed = i.failed || i.killed
    if (m == null) tasks += TaskRec(e.stageId, i.duration, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed)
    else {
      val run = m.executorRunTime
      val sched = math.max(0L, i.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      tasks += TaskRec(e.stageId, i.duration, run, m.executorCpuTime, m.jvmGCTime, sched,
        m.peakExecutionMemory, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, failed)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      lock.synchronized { s.jobGroupId.foreach(g => execGroup(s.executionId) = g) }
    case end: SparkListenerSQLExecutionEnd =>
      PerfbenchSqlBridge.queryExecution(end).foreach { qe =>
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      val asof = Events.physicalNodes(qe.executedPlan)
        .count(_.getClass.getSimpleName == "AsOfJoinExec")
      val interval = Events.intervalRewrites(qe.optimizedPlan)
      lock.synchronized {
        execs += Exec(end.executionId, execGroup.getOrElse(end.executionId, ""),
          planMs, asof, interval)
      }
      }
    case _ =>
  }

  /** Everything recorded for one operation. */
  def of(op: String): OpEvents = lock.synchronized {
    val js = jobs.values.filter(_.group == op).map(_.id).toSet
    val st = stages.filter(s => js.contains(s.job)).toSeq
    val ids = st.map(_.id).toSet
    OpEvents(jobs.values.filter(_.group == op).toSeq, st,
      tasks.filter(t => ids.contains(t.stage)).toSeq, execs.filter(_.group == op).toSeq)
  }
}

final case class OpEvents(jobs: Seq[Events.Job], stages: Seq[Events.StageRec],
                          tasks: Seq[Events.TaskRec], execs: Seq[Events.Exec]) {
  /** Length of the union of the stages' running intervals (seconds). */
  def stageUnionSeconds: Double = Events.unionNanos(stages.map(s => (s.submit, s.complete))) / 1e9
}

object Events {
  final case class Job(id: Int, group: String, start: Long, var end: Long)
  final case class StageRec(id: Int, job: Int, submit: Long, complete: Long,
                            tasks: Int, scan: Boolean, failed: Boolean)
  final case class TaskRec(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long,
                           gcMs: Long, schedDelayMs: Long, peakMem: Long,
                           shuffleWrite: Long, shuffleRead: Long, spill: Long,
                           recordsRead: Long, failed: Boolean)
  final case class Exec(id: Long, group: String, planMs: Long, asof: Int, interval: Int)

  /** Every node of a physical plan, looking through AQE wrappers and
    * query stages to the plan that actually ran.
    */
  def physicalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => physicalNodes(a.executedPlan)
    case q: QueryStageExec => physicalNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(physicalNodes)
  }

  /** Joins the interval-join rewrite produced: a side exposes its
    * reserved bucket column.
    */
  def intervalRewrites(p: LogicalPlan): Int = p.collect {
    case j: Join if j.children.exists(_.output.exists(a =>
      a.name == "__graft_bucket" || a.name == "__graft_bucket_i")) => 1
  }.sum

  def unionNanos(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
