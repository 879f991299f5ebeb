package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for a traced run. Everything here is fed by Spark
  * listeners and by spans the workloads open around calls into the
  * engine's modules; nothing inside the engine is instrumented. Listeners
  * are registered only when the traced half of a run starts, so the
  * untraced half measures the same code without them.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var active = false
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = sums.synchronized { sums(k) += v }

  /** Time `body` and add its wall time (seconds) to span `name`. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val t0 = System.nanoTime()
      try body finally add(name, (System.nanoTime() - t0) / 1e9)
    }
  def count(name: String, v: Double): Unit = if (active) add(name, v)

  private final case class JobRec(submitMs: Long, site: String, var firstTaskMs: Long = -1L)
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSite = mutable.Map.empty[Long, String]
  private val execStartMs = mutable.Map.empty[Long, Long]

  /** A job's call site: that of the SQL execution it belongs to (the
    * stack above the Dataset action that started it), else its own.
    * Adaptive execution submits most jobs from a pool thread, so only
    * the execution carries the caller's stack; it names the engine
    * module that issued the work. */
  private def siteOf(e: SparkListenerJobStart): String =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
      .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        jobs.synchronized { execSite(s.executionId) = s.details; execStartMs(s.executionId) = s.time }
        // one convergence check per connected-components round
        if (s.details.contains("graft.ext.Dedup") && s.details.contains("materializeAndSum"))
          add("ext.cc_checks", 1)
      case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        jobs.synchronized { execStartMs.remove(e.executionId) }
          .foreach(t => add("sql.exec_ms", (e.time - t).toDouble))
      case _: org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate =>
        add("plan.aqe_updates", 1)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs(e.jobId) = JobRec(e.time, siteOf(e))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      add("sched.jobs", 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = add("sched.stages", 1)
    override def onTaskStart(e: SparkListenerTaskStart): Unit = jobs.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        if (j.firstTaskMs < 0) {
          j.firstTaskMs = e.taskInfo.launchTime
          add("sched.wait_ms", (j.firstTaskMs - j.submitMs).toDouble)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.remove(e.jobId).foreach { j =>
        val s = (e.time - j.submitMs) / 1e3
        add("sched.job_ms", s * 1e3)
        if (j.site.contains("graft.ext.Dedup")) add("ext.cc_s", s)
        else if (j.site.contains("graft.ext.MinHash")) add("ext.minhash_s", s)
        if (j.site.contains("graft.ops.Sink$.writeParquet")) add("sink.write_jobs_s", s)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        add("sched.tasks", 1)
        add("exec.run_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        val in = m.inputMetrics
        if (in.recordsRead > 0 || in.bytesRead > 0) {
          add("ingest.input_rows", in.recordsRead.toDouble)
          add("ingest.input_mb", in.bytesRead / 1048576.0)
          add("ingest.scan_task_s", m.executorRunTime / 1e3)
        }
        add("sink.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill.disk_mb", m.diskBytesSpilled / 1048576.0)
      }
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)
  private def conditionOf(p: SparkPlan): String = p match {
    case f: FilterExec => f.condition.sql
    case j: BaseJoinExec => j.condition.map(_.sql).getOrElse("")
    case _ => ""
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val t = qe.tracker
      for ((phase, key) <- Seq("analysis" -> "plan.analysis_ms",
          "optimization" -> "plan.optimization_ms", "planning" -> "plan.planning_ms"))
        t.phases.get(phase).foreach(p => add(key, p.durationMs.toDouble))
      add("plans.rule_ms", t.rules.collect {
        case (name, r) if name.startsWith("graft.") => r.totalTimeNs / 1e6
      }.sum)
      val plan = nodes(qe.executedPlan)
      for (n <- plan) {
        val c = conditionOf(n)
        if (c.contains("a.sig") && c.contains("b.sig")) {
          // MinHash band join: Spark evaluates the estimate threshold inside
          // the join, so its output is the band collisions that pass it;
          // the distinct above it keeps each pair once
          add("ext.candidate_pairs", rows(n).getOrElse(0L).toDouble)
          plan.collectFirst { case a: HashAggregateExec => a }
            .foreach(a => add("ext.pairs_kept", rows(a).getOrElse(0L).toDouble))
        } else if (c.contains("vec_id") && c.contains("query_id")) {
          add("ann.candidates", rows(n).getOrElse(0L).toDouble)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var codegen0 = (0L, 0L)

  def start(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    codegen0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    active = true
  }

  /** Stop listening and return the raw sums (totals over the traced
    * window) plus the streaming progress reports seen in it. */
  def stop(): (Map[String, Double], Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    PerfbenchBus.drain(spark.sparkContext)
    active = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    add("codegen.compile_ms", (CodeGenerator.compileTime - codegen0._1) / 1e6)
    add("codegen.classes", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._2).toDouble)
    (sums.synchronized(sums.toMap), progress.synchronized(progress.toList))
  }
}
