package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Captures the `Dataset.observe` row counts of every query an iteration
  * runs (the curation funnel check reads them). Only the curation workload
  * registers one, so the other workloads run with no listener at all.
  */
final class Checker(spark: SparkSession) {
  private val observed = new ConcurrentLinkedQueue[(String, Long)]()
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        observed.add(name -> row.getAs[Long]("n_rows"))
      }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })
  def reset(): Unit = observed.clear()
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  def observedRows: Seq[(String, Long)] = observed.asScala.toSeq
}

/** The traced run's recorder. Everything is measured from outside the
  * program: a `SparkListener` (jobs, stages, tasks and their metrics), a
  * `QueryExecutionListener` (actions, planning phases), SQL execution
  * start/end events (action intervals), the wrapper around the synthetic
  * transport, and spans the workloads open around their public calls.
  * Spans are held in memory and written to one JSON file at exit.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  @volatile private var iter = -1
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val tasks = new ConcurrentLinkedQueue[(Int, TaskRec)]()
  private val stages = new java.util.concurrent.atomic.AtomicInteger()
  private val actions = new ConcurrentLinkedQueue[Action]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val sqlIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val transport = new TransportStats
  private val iterations = scala.collection.mutable.ArrayBuffer.empty[String]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      val tags = prop("spark.job.tags").getOrElse("")
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L,
        prop("spark.job.description").orNull,
        tags.contains("broadcast exchange")))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(stageJob.getOrDefault(e.stageId, -1) -> TaskRec(
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, m.resultSize))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStart.remove(s.executionId)).foreach(t0 =>
          sqlIntervals.add(t0 -> s.time))
      case _ =>
    }
  })
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val planning = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
      actions.add(Action(f, d / 1e9, planning, System.currentTimeMillis()))
    }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      actions.add(Action(s"failed:$f", 0.0, 0.0, System.currentTimeMillis()))
  })

  /** Run `body` inside a named span (wall seconds recorded). */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try body finally spans.add(Span(name, iter, t0, (System.nanoTime() - n0) / 1e9))
  }

  def wrap(t: graft.sources.TimeCampClient.Transport)
      : graft.sources.TimeCampClient.Transport = transport.wrap(t)

  def begin(i: Int): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    iter = i
    jobs.clear(); tasks.clear(); stages.set(0); actions.clear()
    sqlIntervals.clear(); transport.reset()
  }

  /** Close iteration `iter` and derive its per-layer figures. */
  def end(wall: Double): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val js = jobs.values.asScala.toSeq.filter(_.end >= 0)
    val ts = tasks.asScala.toSeq
    val as = actions.asScala.toSeq
    val sp = spans.asScala.toSeq.filter(_.iter == iter)
    def spanS(prefix: String) = sp.filter(_.name.startsWith(prefix)).map(_.seconds).sum
    val mb = 1e6
    val sparkBusy = unionSeconds(
      js.map(j => j.start -> j.end) ++ sqlIntervals.asScala.toSeq)
    val runWall = spanS("pipeline.run")
    val broadcastJobs = js.filter(_.broadcast).map(_.id).toSet
    val curationStages = Seq("exact", "near_dup", "deduped", "winnow", "clean",
      "ppl_band", "head", "cap")
    val perStage = curationStages.map { st =>
      s"curation.${st}_s" -> unionSeconds(js.filter(_.description == s"curate/$st")
        .map(j => j.start -> j.end))
    }
    val checkpoints = as.filter(a => a.func == "localCheckpoint" || a.func == "checkpoint")
    val m = Map(
      "sources.requests" -> transport.requests.toDouble,
      "sources.retries" -> transport.retries.toDouble,
      "sources.skipped_batches" -> transport.skipped.toDouble,
      "sources.response_mb" -> transport.bytes / mb,
      "sources.server_s" -> transport.serverNanos / 1e9,
      "pipeline.outside_actions_s" ->
        (if (runWall > 0) runWall - sparkBusy - transport.serverNanos / 1e9 else 0.0),
      // FileSink's `df.write...save` reaches listeners as a "command"
      "sink.write_s" ->
        as.filter(a => a.func == "command" || a.func == "save").map(_.seconds).sum,
      "sink.files" -> sinkFiles._1,
      "sink.mb" -> sinkFiles._2 / mb,
      "materialize.checkpoints" -> checkpoints.size.toDouble,
      "materialize.s" -> checkpoints.map(_.seconds).sum,
      "joins.broadcasts" -> broadcastJobs.size.toDouble,
      "joins.broadcast_mb" ->
        ts.filter(t => broadcastJobs.contains(t._1)).map(_._2.resultBytes).sum / mb,
      "reports.budget_s" -> spanS("reports.budget"),
      "reports.project_s" -> spanS("reports.project"),
      "curation.output_s" -> spanS("curation.output"),
      "spark.actions" -> as.size.toDouble,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.planning_s" -> as.map(_.planning).sum,
      "spark.idle_core_s" ->
        (sparkBusy * cores - ts.map(_._2.runMs).sum / 1e3),
      "spark.task_cpu_s" -> ts.map(_._2.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_._2.gcMs).sum / 1e3,
      "spark.input_mb" -> ts.map(_._2.inputBytes).sum / mb,
      "spark.shuffle_write_mb" -> ts.map(_._2.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_._2.shuffleRead).sum / mb,
      "spark.spill_mb" -> ts.map(_._2.spill).sum / mb,
    ) ++ perStage
    val funcs = as.groupBy(_.func).map { case (f, xs) => f -> xs.size }
    iterations += (
      s"""{"iteration": $iter, "wall_s": ${Json.num(wall)}, "metrics": """ +
        m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
          .mkString("{", ", ", "}") +
        ", \"actions_by_func\": " +
        funcs.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}") +
        ", \"jobs\": " + js.sortBy(_.id).map(j =>
          s"""{"id": ${j.id}, "start_ms": ${j.start}, "end_ms": ${j.end}, """ +
            s""""description": ${Option(j.description).map(Json.str).getOrElse("null")}, """ +
            s""""broadcast": ${j.broadcast}}""").mkString("[", ", ", "]") +
        ", \"actions\": " + as.map(a =>
          s"""{"func": ${Json.str(a.func)}, "end_ms": ${a.endMs}, """ +
            s""""seconds": ${Json.num(a.seconds)}, "planning_s": ${Json.num(a.planning)}}""")
          .mkString("[", ", ", "]") +
        ", \"spans\": " + sp.map(s =>
          s"""{"name": ${Json.str(s.name)}, "start_ms": ${s.startMs}, "seconds": ${Json.num(s.seconds)}}""")
          .mkString("[", ", ", "]") + "}")
    m
  }

  /** Files and bytes the elt_sync sink left, set by that workload. */
  @volatile var sinkFiles: (Double, Double) = (0.0, 0.0)

  def writeJson(path: Path, workload: String, seed: Long,
      perLayer: Seq[(String, Double, String)], wall: Double, cpu: Double): Unit = {
    Files.createDirectories(path.getParent)
    val pl = perLayer.map { case (n, v, u) =>
      s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString("{", ", ", "}")
    Files.writeString(path,
      s"""{"workload": ${Json.str(workload)}, "seed": $seed, """ +
        s""""traced_wall_s": ${Json.num(wall)}, "traced_cpu_s": ${Json.num(cpu)}, """ +
        s""""per_layer": $pl, "iterations": ${iterations.mkString("[\n", ",\n", "\n]")}}""" + "\n")
  }
}

object Tracer {
  /** Every per-layer metric the traced run prints, with its unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.requests" -> "count", "sources.retries" -> "count",
    "sources.skipped_batches" -> "count", "sources.response_mb" -> "MB",
    "sources.server_s" -> "s", "pipeline.outside_actions_s" -> "s",
    "sink.write_s" -> "s", "sink.files" -> "count", "sink.mb" -> "MB",
    "materialize.checkpoints" -> "count", "materialize.s" -> "s",
    "joins.broadcasts" -> "count", "joins.broadcast_mb" -> "MB",
    "reports.budget_s" -> "s", "reports.project_s" -> "s",
    "curation.exact_s" -> "s", "curation.near_dup_s" -> "s",
    "curation.deduped_s" -> "s", "curation.winnow_s" -> "s",
    "curation.clean_s" -> "s", "curation.ppl_band_s" -> "s",
    "curation.head_s" -> "s", "curation.cap_s" -> "s",
    "curation.output_s" -> "s",
    "spark.actions" -> "count", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.planning_s" -> "s", "spark.idle_core_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.input_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB")

  final case class Span(name: String, iter: Int, startMs: Long, seconds: Double)
  final case class JobRec(id: Int, start: Long, end: Long, description: String,
      broadcast: Boolean)
  final case class TaskRec(runMs: Long, cpuNs: Long, gcMs: Long,
      inputBytes: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      resultBytes: Long)
  final case class Action(func: String, seconds: Double, planning: Double,
      endMs: Long)

  /** Length in seconds of the union of `[start, end]` millisecond intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** Counts what passes through the synthetic API: requests, retries
    * (attempts after the first for one URL + parameters), batches whose
    * last answer was an error, body bytes, and time inside the server.
    */
  final class TransportStats {
    @volatile var requests = 0L
    @volatile var bytes = 0L
    @volatile var serverNanos = 0L
    private val attempts = scala.collection.mutable.HashMap.empty[String, (Int, Int)]
    def reset(): Unit = synchronized {
      requests = 0; bytes = 0; serverNanos = 0; attempts.clear()
    }
    def retries: Long = synchronized(attempts.values.map(_._1 - 1L).sum)
    def skipped: Long = synchronized(attempts.values.count(_._2 >= 400).toLong)
    def wrap(t: graft.sources.TimeCampClient.Transport)
        : graft.sources.TimeCampClient.Transport = (url, params) => {
      val t0 = System.nanoTime()
      val r = t(url, params)
      val dt = System.nanoTime() - t0
      val key = url + params.toSeq.sorted.mkString("?", "&", "")
      synchronized {
        requests += 1; bytes += r.body.length; serverNanos += dt
        val (n, _) = attempts.getOrElse(key, (0, 0))
        attempts(key) = (n + 1, r.status)
      }
      r
    }
  }
}
