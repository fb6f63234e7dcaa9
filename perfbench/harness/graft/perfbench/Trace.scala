package graft.perfbench

import scala.collection.mutable
import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * The traced run's recorder. Spans wrap the benchmark's calls into the
 * engine's public functions; a SparkListener and a QueryExecutionListener
 * record jobs, stages, Catalyst phases and plan metrics. Everything is kept
 * in memory and written out when the run ends.
 *
 * Listener events are delivered asynchronously, so [[endOp]] drains the
 * listener bus: every event seen while operation `op` is current belongs
 * to it (one client thread runs one operation at a time).
 */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  val records = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile private var op = -1
  private var nextSpan = 0
  private val stack = mutable.Stack.empty[Int]
  private var on = false

  private def add(r: Map[String, Any]): Unit = records.synchronized { records += r }

  /** Start operation `id`; with `traced` false no listener is attached, so
    * the operation runs exactly as in an untraced run. */
  def beginOp(id: Int, traced: Boolean): Unit = {
    op = id
    if (traced && !on) {
      sc.addSparkListener(listener); spark.listenerManager.register(qeListener); on = true
    } else if (!traced && on) {
      spark.listenerManager.unregister(qeListener); sc.removeSparkListener(listener); on = false
    }
  }

  def endOp(): Unit = if (on) BenchAccess.drainListenerBus(sc)

  def detach(): Unit = beginOp(-1, traced = false)

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    if (!on) return body
    val id = nextSpan; nextSpan += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val start = nowUs
    try body finally {
      stack.pop()
      add(Map("type" -> "span", "op" -> op, "id" -> id, "parent" -> parent,
        "name" -> name, "start_us" -> start, "end_us" -> nowUs, "attrs" -> attrs))
    }
  }

  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // a job's result stage is named after the job's callSite.short
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      add(Map("type" -> "job_start", "op" -> op, "job" -> e.jobId,
        "time_ms" -> e.time, "call_site" -> site,
        "exec" -> Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L),
        "stages" -> e.stageIds.size))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add(Map("type" -> "job_end", "op" -> op, "job" -> e.jobId, "time_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = taskTimes.synchronized {
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val times = taskTimes.synchronized(taskTimes.remove((s.stageId, s.attemptNumber()))
        .map(_.sorted.toVector).getOrElse(Vector.empty))
      val skew = if (times.size < 2) 1.0 else {
        val med = times(times.size / 2).toDouble
        if (med <= 0) 1.0 else times.last / med
      }
      add(Map("type" -> "stage", "op" -> op, "stage" -> s.stageId,
        "tasks" -> s.numTasks,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "fetch_wait_ms" -> (if (m == null) 0L else m.shuffleReadMetrics.fetchWaitTime),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
        "skew" -> skew))
    }
    // jobs that adaptive execution submits from its own threads carry no
    // user call site; their SQL execution's description does
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        add(Map("type" -> "sql_exec", "op" -> op, "exec" -> x.executionId,
          "root" -> x.rootExecutionId.getOrElse(x.executionId), "call_site" -> x.description))
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        add(Map("type" -> "block", "op" -> op, "bytes" -> (b.memSize + b.diskSize)))
    }
  }

  /** Every physical node of an executed plan, through adaptive wrappers,
    * query stages and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phaseMs(n: String) = phases.get(n).map(_.durationMs).getOrElse(0L)
      def phaseAt(n: String, end: Boolean) =
        phases.get(n).map(p => if (end) p.endTimeMs else p.startTimeMs).getOrElse(0L)
      def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
      val all = nodes(qe.executedPlan)
      def sum(pick: SparkPlan => Boolean, k: String) = all.filter(pick).map(metric(_, k)).sum
      val cls = (n: SparkPlan) => n.getClass.getSimpleName
      val isWrite = (n: SparkPlan) => cls(n).startsWith("DataWritingCommand")
      add(Map("type" -> "qe", "op" -> op, "func" -> funcName,
        "start_ms" -> phases.values.map(_.startTimeMs).filter(_ > 0).minOption.getOrElse(0L),
        "analysis_ms" -> phaseMs("analysis"),
        "optimization_ms" -> phaseMs("optimization"),
        "planning_ms" -> phaseMs("planning"),
        "analysis_start_ms" -> phaseAt("analysis", end = false),
        "analysis_end_ms" -> phaseAt("analysis", end = true),
        "optimization_start_ms" -> phaseAt("optimization", end = false),
        "optimization_end_ms" -> phaseAt("optimization", end = true),
        "planning_start_ms" -> phaseAt("planning", end = false),
        "planning_end_ms" -> phaseAt("planning", end = true),
        "scan_rows" -> sum(n => cls(n).contains("Scan"), "numOutputRows"),
        "join_rows" -> sum(n => cls(n).contains("Join") || cls(n).contains("CartesianProduct"),
          "numOutputRows"),
        "write_rows" -> sum(isWrite, "numOutputRows"),
        "write_bytes" -> sum(isWrite, "numOutputBytes"),
        "write_files" -> sum(isWrite, "numFiles")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add(Map("type" -> "qe_failed", "op" -> op, "func" -> funcName,
        "error" -> String.valueOf(e.getMessage).take(200)))
  }
}
