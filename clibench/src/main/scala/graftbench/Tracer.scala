package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBenchAccess, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracing of one operation at a time: a SparkListener for
  * jobs, stages and tasks, a QueryExecutionListener for Catalyst
  * phases, and [[CountingFs]] for the Hadoop FS protocol. None of it is
  * in the engine; it is installed around a traced operation and removed
  * after it, so untraced operations of the same run pay nothing.
  *
  * Attribution: the caller sets the local property [[Tracer.OpKey]] and
  * a job group before the operation. Spark copies local properties into
  * every job at submission, so a job, its stages and tasks, its SQL
  * execution and the FS calls its tasks make are charged by that
  * property — never by when they happened. Spans stay in memory and are
  * written as JSON lines at the end of the run. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext

  final class Job(val id: Int, val module: String, val start: Long) { var end = -1L }

  final class OpTrace(val id: Long, val name: String) {
    var start = 0L; var end = 0L
    val jobs = mutable.ArrayBuffer.empty[Job]
    var stages, tasks, runMs, cpuNs, gcMs, shWrite, shRead, fetchMs, spill, schedMs = 0L
    val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var cachedEnd = 0
    var fs: Seq[Long] = Nil
    var groupJobs = 0
  }

  private val ops = mutable.LinkedHashMap.empty[Long, OpTrace]
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageOp = mutable.HashMap.empty[Int, OpTrace]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageLaunch = mutable.HashMap.empty[Int, Long]
  private val execOp = mutable.HashMap.empty[Long, OpTrace]
  private val execModule = mutable.HashMap.empty[Long, String]
  private val queryExec = mutable.HashMap.empty[Long, Long]
  private val queries = mutable.ArrayBuffer.empty[(Long, Seq[(String, Long, Long)])]
  /** Jobs seen while a traced operation ran that carried no operation id. */
  private var unattributedJobs = 0

  private def opOf(props: java.util.Properties): Option[OpTrace] =
    Option(props).flatMap(p => Option(p.getProperty(OpKey)))
      .flatMap(id => ops.get(id.toLong))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      opOf(e.properties) match {
        case Some(op) =>
          // a job Spark submits from its own threads (broadcasts, AQE
          // stages) has no engine frame: it takes its SQL execution's
          val exec = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)
          val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
          val module = moduleOf(site) match {
            case "other" => exec.flatMap(execModule.get).getOrElse("other")
            case m => m
          }
          val j = new Job(e.jobId, module, e.time)
          jobs(e.jobId) = j; op.jobs += j
          e.stageIds.foreach(stageOp(_) = op)
        case None => unattributedJobs += 1
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobGroupId.flatMap(g => ops.values.find(op => group(op.id) == g)).foreach { op =>
            execOp(s.executionId) = op
            execModule(s.executionId) = moduleOf(s.details)
          }
        case x: SparkListenerSQLExecutionEnd =>
          GraftBenchAccess.queryOf(x).foreach(qe => queryExec(qe.id) = x.executionId)
        case _ =>
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      if (stageOp.contains(si.stageId))
        stageSubmit(si.stageId) = si.submissionTime.getOrElse(System.currentTimeMillis)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = Tracer.this.synchronized {
      if (stageOp.contains(e.stageId) && !stageLaunch.contains(e.stageId))
        stageLaunch(e.stageId) = e.taskInfo.launchTime
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        op.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          op.runMs += m.executorRunTime
          op.cpuNs += m.executorCpuTime
          op.gcMs += m.jvmGCTime
          op.shWrite += m.shuffleWriteMetrics.bytesWritten
          op.shRead += m.shuffleReadMetrics.totalBytesRead
          op.fetchMs += m.shuffleReadMetrics.fetchWaitTime
          op.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val id = e.stageInfo.stageId
      stageOp.get(id).foreach { op =>
        op.stages += 1
        for (s <- stageSubmit.get(id); l <- stageLaunch.get(id)) op.schedMs += math.max(0L, l - s)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
        .map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      Tracer.this.synchronized { queries += ((qe.id, ph)) }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  /** Runs `body` as traced operation `id`. */
  def traced[A](id: Long, name: String)(body: => A): A = {
    val op = new OpTrace(id, name)
    synchronized { ops(id) = op }
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    withCountingFs(on = true)
    sc.setJobGroup(group(id), name)
    sc.setLocalProperty(OpKey, id.toString)
    CountingFs.driverOp.set(id)
    op.start = System.currentTimeMillis
    try body finally {
      op.end = System.currentTimeMillis
      CountingFs.driverOp.set(-1L)
      sc.setLocalProperty(OpKey, null)
      sc.clearJobGroup()
      GraftBenchAccess.drain(sc)
      op.cachedEnd = sc.getPersistentRDDs.size
      op.fs = CountingFs.of(id)
      op.groupJobs = sc.statusTracker.getJobIdsForGroup(group(id)).length
      withCountingFs(on = false)
      spark.listenerManager.unregister(queryListener)
      sc.removeSparkListener(listener)
    }
  }

  private def group(id: Long) = s"graftbench-op-$id"

  private var plainImpl: Option[String] = None

  /** Swaps the process's `file://` filesystem. The FS cache is keyed by
    * scheme only, so it is emptied on every swap. */
  private def withCountingFs(on: Boolean): Unit = {
    val conf = sc.hadoopConfiguration
    if (on) {
      plainImpl = Option(conf.get("fs.file.impl"))
      conf.set("fs.file.impl", classOf[CountingFs].getName)
    } else plainImpl match {
      case Some(v) => conf.set("fs.file.impl", v)
      case None => conf.unset("fs.file.impl")
    }
    FileSystem.closeAll()
  }

  private var unattributedQueries = 0

  /** Catalyst phases, attributed through the job group the query's SQL
    * execution was started under. */
  private def resolveQueries(): Unit = synchronized {
    queries.foreach { case (id, ph) =>
      queryExec.get(id).flatMap(execOp.get) match {
        case Some(op) => op.phases ++= ph
        case None => unattributedQueries += 1
      }
    }
    queries.clear()
  }

  def traces: Seq[OpTrace] = synchronized { resolveQueries(); ops.values.toSeq }

  /** The per-layer metrics of one traced operation, in [[Tracer.Metrics]] order. */
  def metrics(op: OpTrace, cores: Int): Seq[Double] = {
    resolveQueries()
    val wall = (op.end - op.start) / 1e3
    val done = op.jobs.filter(_.end >= 0)
    def jobS(pred: String => Boolean) =
      done.filter(j => pred(j.module)).map(j => j.end - j.start).sum / 1e3
    def jobsN(pred: String => Boolean) = op.jobs.count(j => pred(j.module)).toDouble
    val covered = union(done.toSeq.map(j => (math.max(j.start, op.start), math.min(j.end, op.end))))
    val planMs = op.phases.map(p => p._3 - p._2).sum
    Seq(
      wall - covered / 1e3,
      jobS(_ == "app.sink"),
      jobsN(_.startsWith("app")),
      jobsN(_ == "sources"), jobS(_ == "sources"),
      jobsN(_.startsWith("operators")),
      jobS(_ == "operators.cdcrollup"), jobS(_ == "operators.joinview"),
      jobsN(_.startsWith("streaming")), jobS(_ == "streaming.rollup"),
      jobsN(_ == "other"),
      op.jobs.length.toDouble, op.stages.toDouble, op.tasks.toDouble,
      planMs / 1e3, op.schedMs / 1e3, op.runMs / 1e3, op.cpuNs / 1e9,
      if (wall > 0) op.runMs / 1e3 / (wall * cores) else 0.0,
      op.shWrite.toDouble, op.shRead.toDouble, op.fetchMs / 1e3,
      op.spill.toDouble, op.gcMs / 1e3, op.cachedEnd.toDouble) ++
      op.fs.map(_.toDouble)
  }

  /** The spans as JSON lines: operation spans, their job spans (named
    * by call-site module) and Catalyst phase spans. */
  def spanLines: Seq[String] = traces.flatMap { op =>
    val p = s""""op":${op.id},"parent":"op-${op.id}""""
    Seq(s"""{"kind":"op","id":"op-${op.id}","op":${op.id},"parent":null,"name":"${op.name}","start_ms":${op.start},"end_ms":${op.end}}""") ++
      op.jobs.map(j => s"""{"kind":"job","id":"job-${j.id}",$p,"name":"job:${j.module}","start_ms":${j.start},"end_ms":${j.end}}""") ++
      op.phases.map { case (n, s, e) => s"""{"kind":"phase",$p,"name":"plan:$n","start_ms":$s,"end_ms":$e}""" }
  }

  def unattributed: (Int, Int) = synchronized { resolveQueries(); (unattributedJobs, unattributedQueries) }
}

object Tracer {
  val OpKey = "graftbench.op"

  /** Per-layer metric names and units, in [[Tracer.metrics]] order. */
  val Metrics: Seq[(String, String)] = Seq(
    "app.self_s" -> "s", "app.sink.job_s" -> "s", "app.jobs" -> "count",
    "sources.jobs" -> "count", "sources.job_s" -> "s",
    "operators.jobs" -> "count",
    "operators.cdcrollup.job_s" -> "s", "operators.joinview.job_s" -> "s",
    "streaming.jobs" -> "count", "streaming.rollup.job_s" -> "s",
    "other.jobs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.plan_s" -> "s", "spark.sched_delay_s" -> "s",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.busy_ratio" -> "ratio", "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_fetch_wait_s" -> "s",
    "spark.spill_bytes" -> "B", "spark.gc_s" -> "s", "spark.cached_rdds_end" -> "count") ++
    CountingFs.Names.map(n => n -> (if (n == "fs.bytes_written") "B" else "count"))

  /** The module a job belongs to: the innermost engine frame of the
    * call site Spark recorded when the job was submitted. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => "other"
      case Some(frame) =>
        val pkg = frame.split('.')(1)
        val file = frame.dropWhile(_ != '(').drop(1).takeWhile(_ != ':')
        (pkg, file) match {
          case ("app", "Sink.scala") => "app.sink"
          case ("app", _) => "app"
          case ("sources", _) => "sources"
          case ("operators", "CdcRollup.scala") => "operators.cdcrollup"
          case ("operators", "JoinView.scala") => "operators.joinview"
          case ("operators", _) => "operators.other"
          case ("streaming", "EventStreams.scala") => "streaming.rollup"
          case ("streaming", _) => "streaming.other"
          case _ => "other"
        }
    }

  /** Total length of the union of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
