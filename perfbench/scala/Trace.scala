package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import graft.expr.{MinHashSig, VecDot}
import graft.sources.DocStorePartition
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.graftshim.CatalystBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one op: task metrics from the scheduler listener,
  * planning phases and plan shape from the query-execution listener. */
final class OpStats {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, schedWaitMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var scanBytes, scanRows, scanTasks, scanTasksEmpty = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var exchanges, joinRows, filesPlanned = 0L
  var kernel = false

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "sched_wait_ms" -> schedWaitMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes, "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
    "scan_tasks" -> scanTasks, "scan_tasks_empty" -> scanTasksEmpty,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "exchanges" -> exchanges, "join_rows" -> joinRows, "files_planned" -> filesPlanned, "kernel" -> kernel)
}

final case class Span(id: Int, parent: Int, name: String, op: String, startNs: Long, endNs: Long) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
    "start_s" -> startNs / 1e9, "end_s" -> endNs / 1e9)
}

/** Spans around the benchmark's calls into each layer plus Spark
  * counters attributed to the op that caused them. Spans stay in memory
  * until [[dump]]. While disabled every method is a pass-through and no
  * listener is attached, so untraced passes pay nothing. */
final class Tracer(spark: SparkSession) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Map.empty[Int, (Int, String, String, Long)]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val stats = mutable.LinkedHashMap.empty[String, OpStats]
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  @volatile private var currentOp = "idle"
  private var pass = 0
  private var enabled = false

  private def statsFor(op: String): OpStats = synchronized(stats.getOrElseUpdate(op, new OpStats))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(currentOp)
      e.stageIds.foreach(stageOp.put(_, op))
      statsFor(op).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      statsFor(stageOp.getOrDefault(e.stageInfo.stageId, currentOp)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = statsFor(stageOp.getOrDefault(e.stageId, currentOp))
      st.tasks += 1
      if (e.reason != Success) st.failedTasks += 1
      val launch = e.taskInfo.launchTime
      st.schedWaitMs += math.max(0L, launch - stageSubmitted.getOrDefault(e.stageId, launch))
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.spillBytes += m.diskBytesSpilled
        val in = m.inputMetrics
        if (in.bytesRead > 0 || in.recordsRead > 0) {
          st.scanTasks += 1
          if (in.recordsRead == 0) st.scanTasksEmpty += 1
          st.scanBytes += in.bytesRead
          st.scanRows += in.recordsRead
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val st = statsFor(currentOp)
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    st.analysisMs += ms("analysis")
    st.optimizationMs += ms("optimization")
    st.planningMs += ms("planning")
    walk(qe.executedPlan) {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => st.exchanges += 1
      case j: BaseJoinExec => st.joinRows += j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case s: BatchScanExec =>
        st.filesPlanned += s.inputPartitions.collect { case p: DocStorePartition => p.file }.distinct.size
      case _ =>
    }
    walk(qe.executedPlan) { p =>
      if (p.expressions.exists(_.exists(e => e.isInstanceOf[VecDot] || e.isInstanceOf[MinHashSig])))
        st.kernel = true
    }
  }

  /** Every node of an executed plan, through AQE wrappers and query
    * stages; a reused exchange is counted where it was built. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case o => o.children
    }
    (kids ++ p.subqueries).foreach(walk(_)(f))
  }

  def isEnabled: Boolean = enabled

  /** Start tracing pass `p` (attach listeners) or run it untraced. */
  def beginPass(p: Int, on: Boolean): Unit = {
    pass = p
    if (on != enabled) {
      if (on) {
        spark.sparkContext.addSparkListener(jobListener)
        spark.listenerManager.register(queryListener)
      } else {
        CatalystBridge.waitForListeners(spark)
        spark.sparkContext.removeSparkListener(jobListener)
        spark.listenerManager.unregister(queryListener)
      }
      enabled = on
    }
  }

  /** Attribute the Spark work started from here on to op `name` of the
    * current pass. Events of the previous op are delivered first. */
  def switchOp(name: String): Unit = if (enabled) {
    CatalystBridge.waitForListeners(spark)
    currentOp = s"$pass|$name"
    spark.sparkContext.setJobGroup(currentOp, name, interruptOnCancel = false)
  }

  def endOp(): Unit = if (enabled) {
    CatalystBridge.waitForListeners(spark)
    currentOp = "idle"
    spark.sparkContext.clearJobGroup()
  }

  def openSpan(name: String): Int = if (!enabled) -1 else {
    val id = nextId
    nextId += 1
    open(id) = (stack.headOption.getOrElse(-1), name, currentOp, System.nanoTime() - origin)
    stack = id :: stack
    id
  }

  def closeSpan(id: Int): Unit = if (id >= 0) {
    val (parent, name, op, start) = open.remove(id).get
    stack = stack.filterNot(_ == id)
    spans += Span(id, parent, name, op, start, System.nanoTime() - origin)
  }

  def span[T](name: String)(body: => T): T = {
    val id = openSpan(name)
    try body finally closeSpan(id)
  }

  def dump: Map[String, Any] = {
    CatalystBridge.waitForListeners(spark)
    Map(
      "spans" -> spans.map(_.toMap).toSeq,
      "ops" -> synchronized(stats.toSeq.filterNot(_._1 == "idle").map { case (k, v) => k -> v.toMap }.toMap))
  }
}
