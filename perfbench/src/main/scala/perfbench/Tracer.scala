package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around each call the benchmark makes into a layer, plus the
  * Spark events that happened while they were open.
  *
  * With tracing off, [[span]] only runs its body: no listener is
  * registered and nothing is recorded. With tracing on, a SparkListener
  * and a QueryExecutionListener collect job, stage, task and planning
  * events with their wall-clock times. Listener events arrive
  * asynchronously, so they are attributed to spans after the run, by
  * time window: with one client only one chain of spans is open at a
  * time, and the innermost span whose window holds an event owns it.
  * Job groups are not used, because jobs submitted from pool threads
  * (`ParallelJobs`) need not inherit the caller's group.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  private val jobs = new ConcurrentLinkedQueue[JobEv]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val plans = new ConcurrentLinkedQueue[PlanEv]()

  /** Counters a workload adds to directly (bytes written by a sink, rows
    * fed to a streaming epoch, ...), keyed by metric name. */
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(name: String, v: Double): Unit = if (enabled) counters(name) += v

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, layer, open.headOption.fold(-1)(_.id),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      open = s :: open
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
      }
    }

  /** Registers the listeners on the context and on `session` (each new
    * session needs its own QueryExecutionListener). The SparkListener sits
    * on the same listener-bus queue as [[Metrics.TaskCpu]], so once that
    * has seen every job end, so has this one. */
  def attach(session: SparkSession): Unit = if (enabled) {
    val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.listenerManager.register(planListener)
    if (!contextAttached) {
      session.sparkContext.addSparkListener(sparkListener)
      contextAttached = true
    }
  }
  private var contextAttached = false

  /** The analysis phase of a DataFrame happens when it is built, not when
    * it runs, so the final frame of each query reports it here. */
  def recordAnalysis(qe: QueryExecution): Unit = if (enabled)
    qe.tracker.phases.get("analysis").foreach { p =>
      plans.add(PlanEv(p.startTimeMs, p.durationMs, 0L, 0L))
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = Option(jobStarts.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      jobs.add(JobEv(t0, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageEv(i.submissionTime.getOrElse(0L), i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(TaskEv(e.taskInfo.launchTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.diskBytesSpilled,
          m.peakExecutionMemory, m.inputMetrics.recordsRead,
          m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead))
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      plans.add(PlanEv(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- reduction ---------------------------------------------------------

  /** The innermost span open at wall-clock time `t` (ms), if any. */
  private def owner(t: Long, within: IndexedSeq[Span]): Option[Span] = {
    var best: Option[Span] = None
    within.foreach { s =>
      if (s.startMs <= t && t <= s.endMs &&
          best.forall(b => s.startNs >= b.startNs)) best = Some(s)
    }
    best
  }

  /** Per-layer metrics over the spans inside [fromMs, toMs], divided by
    * `passes` where they are totals, and the spans file contents. */
  def reduce(fromMs: Long, toMs: Long, passes: Int, cores: Int): (Map[String, Double], Seq[String]) = {
    val win = spans.filter(s => s.startMs >= fromMs && s.endMs <= toMs).toIndexedSeq
    val in = (t: Long) => t >= fromMs && t <= toMs
    val js = jobs.asScala.filter(j => in(j.startMs)).toIndexedSeq
    val ss = stages.asScala.filter(s => in(s.submitMs)).toIndexedSeq
    val ts = tasks.asScala.filter(t => in(t.launchMs)).toIndexedSeq
    val ps = plans.asScala.filter(p => in(p.startMs)).toIndexedSeq
    val p = passes.max(1).toDouble

    val perSpan = mutable.Map.empty[Int, mutable.Map[String, Double]]
    def bump(s: Option[Span], k: String, v: Double): Unit =
      s.foreach(x => perSpan.getOrElseUpdate(x.id, mutable.Map.empty.withDefaultValue(0.0))(k) += v)
    js.foreach(j => bump(owner(j.startMs, win), "jobs", 1))
    ts.foreach { t =>
      val o = owner(t.launchMs, win)
      bump(o, "tasks", 1); bump(o, "task_run_ms", t.runMs.toDouble)
      bump(o, "scan_rows", t.recordsIn.toDouble)
    }

    val children = win.groupBy(_.parent)
    def dur(s: Span) = (s.endNs - s.startNs) / 1e9
    def selfTime(s: Span) = dur(s) - children.getOrElse(s.id, Nil).map(dur).sum
    val selfByLayer = win.groupBy(_.layer).map { case (l, xs) => l -> xs.map(selfTime).sum }
    val durByLayer = win.groupBy(_.layer).map { case (l, xs) => l -> xs.map(dur).sum }

    val entryJobs = js.count(j => owner(j.startMs, win).exists(_.layer == "entry"))
    // the action's wall time that no job covers: planning, driver-side
    // collects and the gaps between jobs
    val execSpans = win.filter(_.layer == "exec")
    val gap = execSpans.map { s =>
      val cover = js.filter(j => j.endMs >= s.startMs && j.startMs <= s.endMs)
        .map(j => (j.startMs max s.startMs, j.endMs min s.endMs)).sortBy(_._1)
      var covered = 0L; var cur = Long.MinValue
      cover.foreach { case (a, b) =>
        val a2 = a max cur
        if (b > a2) { covered += b - a2; cur = b }
      }
      ((s.endMs - s.startMs) - covered).max(0L) / 1000.0
    }.sum
    val opWall = win.filter(_.layer == "op").map(dur).sum
    val taskRun = ts.map(_.runMs).sum / 1000.0

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("entry.build_s") = durByLayer.getOrElse("entry", 0.0) / p
    m("entry.build_jobs") = entryJobs / p
    m("io.emit_s") = durByLayer.getOrElse("io", 0.0) / p
    m("plans.analysis_s") = ps.map(_.analysisMs).sum / 1000.0 / p
    m("plans.optimization_s") = ps.map(_.optimizationMs).sum / 1000.0 / p
    m("plans.planning_s") = ps.map(_.planningMs).sum / 1000.0 / p
    m("sources.scan_rows") = ts.map(_.recordsIn).sum / p
    m("sources.scan_bytes") = ts.map(_.bytesIn).sum / p
    m("operators.tasks") = ts.size / p
    m("operators.task_run_s") = taskRun / p
    m("operators.task_cpu_s") = ts.map(_.cpuNs).sum / 1e9 / p
    m("operators.gc_s") = ts.map(_.gcMs).sum / 1000.0 / p
    m("operators.spill_bytes") = ts.map(_.spill).sum / p
    m("operators.peak_exec_mb") = ts.map(_.peakExec).maxOption.getOrElse(0L) / 1048576.0
    m("spark.jobs") = js.size / p
    m("spark.stages") = ss.size / p
    m("spark.single_task_stages") = ss.count(_.numTasks == 1) / p
    m("spark.driver_gap_s") = gap / p
    m("spark.idle_core_frac") =
      if (opWall > 0) 1.0 - taskRun / (opWall * cores) else 0.0
    m("spark.shuffle_write_bytes") = ts.map(_.shuffleWrite).sum / p
    m("spark.shuffle_read_bytes") = ts.map(_.shuffleRead).sum / p
    Seq("entry", "exec", "store", "streaming", "io", "cache").foreach { l =>
      m(s"$l.self_s") = selfByLayer.getOrElse(l, 0.0) / p
    }

    val lines = win.map { s =>
      val c = perSpan.getOrElse(s.id, mutable.Map.empty[String, Double])
      def n(k: String) = Json.num(c.getOrElse(k, 0.0))
      s"""{"run":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs - fromMs},"end_ms":${s.endMs - fromMs},""" +
        s""""self_s":${Json.num(selfTime(s))},"jobs":${n("jobs")},""" +
        s""""tasks":${n("tasks")},"task_run_ms":${n("task_run_ms")},""" +
        s""""scan_rows":${n("scan_rows")}}"""
    }
    (m.toMap, lines)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, layer: String, parent: Int,
                        startMs: Long, startNs: Long) {
    var endMs: Long = startMs
    var endNs: Long = startNs
  }
  final case class JobEv(startMs: Long, endMs: Long)
  final case class StageEv(submitMs: Long, numTasks: Int)
  final case class TaskEv(launchMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                          spill: Long, peakExec: Long, recordsIn: Long,
                          bytesIn: Long, shuffleWrite: Long, shuffleRead: Long)
  final case class PlanEv(startMs: Long, analysisMs: Long, optimizationMs: Long,
                          planningMs: Long)
}
