package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters for one top-level call, filled by the listeners of a
  * [[Tracer]]. Times are milliseconds unless the name says otherwise. */
final class Counters {
  val jobStart = mutable.LinkedHashMap.empty[Int, Long]
  val jobEnd = mutable.HashMap.empty[Int, Long]
  var stages, tasks, failedTasks = 0L
  var taskWaitMs, cpuNs, shuffleWriteB, spillB, peakMemB, bytesRead, bytesWritten = 0L
  var planMs, selfJoinRows, filesWritten = 0L
  var batches, addBatchMs, walCommitMs, triggerMs = 0L
  var compiles, compileNs = 0L

  /** Wall covered by at least one running job between `lo` and `hi`. */
  def jobSpanMs(lo: Long, hi: Long): Long = {
    val iv = jobStart.toSeq.map { case (id, s) => (s, jobEnd.getOrElse(id, hi)) }.sortBy(_._1)
    var covered, reach = 0L
    iv.foreach { case (s0, e0) =>
      val (s, e) = (math.max(s0, lo), math.min(e0, hi))
      if (e > s) {
        if (s > reach) { covered += e - s; reach = e }
        else if (e > reach) { covered += e - reach; reach = e }
      }
    }
    covered
  }

  def jobsStartedBy(t: Long): Int = jobStart.values.count(_ <= t)

  def fields(buildEndMs: Long): Seq[(String, Any)] = Seq(
    "jobs" -> jobStart.size, "build_jobs" -> jobsStartedBy(buildEndMs),
    "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_wait_s" -> taskWaitMs / 1e3, "task_cpu_s" -> cpuNs / 1e9,
    "shuffle_write_mb" -> shuffleWriteB / 1e6, "spill_mb" -> spillB / 1e6,
    "peak_exec_mem_mb" -> peakMemB / 1e6, "bytes_read" -> bytesRead,
    "bytes_written" -> bytesWritten, "files_written" -> filesWritten,
    "self_join_rows" -> selfJoinRows, "compiles" -> compiles, "compile_s" -> compileNs / 1e9,
    "batches" -> batches, "addBatch_s" -> addBatchMs / 1e3,
    "walCommit_s" -> walCommitMs / 1e3, "trigger_s" -> triggerMs / 1e3)
}

/** The benchmark's own observers: a SparkListener (jobs, stages, tasks),
  * a QueryExecutionListener (planner phases, final-plan SQLMetrics) and a
  * StreamingQueryListener (micro-batch durations), plus the JVM-wide
  * codegen counters. Registered only for traced passes; nothing in the
  * program under test is changed.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var cur = new Counters

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = cur.synchronized {
      cur.jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = cur.synchronized {
      cur.jobEnd(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = cur.synchronized {
      cur.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = cur.synchronized {
      val c = cur
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        c.taskWaitMs += math.max(0L, sched) + m.shuffleReadMetrics.fetchWaitTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.diskBytesSpilled
        c.peakMemB = math.max(c.peakMemB, m.peakExecutionMemory)
        c.bytesRead += m.inputMetrics.bytesRead
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      val plan = qe.executedPlan
      val written = Tracer.nodes(plan).collect { case w: DataWritingCommandExec =>
        w.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
      cur.synchronized {
        cur.planMs += planMs
        cur.selfJoinRows += Tracer.selfJoinRows(plan)
        cur.filesWritten += written
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      cur.synchronized {
        val d = e.progress.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        cur.batches += 1
        cur.addBatchMs += ms("addBatch")
        cur.walCommitMs += ms("walCommit")
        cur.triggerMs += ms("triggerExecution")
      }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Start attributing events to a fresh call. */
  def begin(): Unit = {
    drain()
    cur = new Counters
    codegen0 = (Tracer.compileCount, CodeGenerator.compileTime)
  }

  /** Events of the call begun last, once they have all arrived. */
  def end(): Counters = {
    drain()
    val c = cur
    c.compiles = Tracer.compileCount - codegen0._1
    c.compileNs = CodeGenerator.compileTime - codegen0._2
    c
  }

  private var codegen0 = (0L, 0L)
}

object Tracer {
  def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Every node of a physical plan, through adaptive plans, query stages
    * and reused exchanges (the final AQE plan once the query has run). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  private def leafIds(p: SparkPlan): Set[String] = nodes(p).collect {
    case f: FileSourceScanExec => "file:" + f.relation.location.rootPaths.mkString(",")
    case r: RDDScanExec => "rdd:" + r.rdd.id
  }.toSet

  /** Output rows of joins whose two sides scan a common relation: the
    * pair expansion of a posting self-join. */
  def selfJoinRows(plan: SparkPlan): Long = nodes(plan).collect {
    case j: BaseJoinExec if (leafIds(j.left) intersect leafIds(j.right)).nonEmpty =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  }.sum
}
