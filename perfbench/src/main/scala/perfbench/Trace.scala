package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval on the driver's wall clock (epoch ms). `parent` is the
  * span that caused it: run > pass > op > build|action > plan > catalyst
  * phase, and build|action > job > stage. Counts ride on `attrs`. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Long, var end: Long,
                      attrs: mutable.Map[String, Double] = mutable.Map.empty)

/** Splits operator calls into the repo's layers from outside the
  * program: a SparkListener for jobs, stages and tasks, and a
  * QueryExecutionListener for Catalyst phases and scan metrics. Jobs find
  * their operator phase through a local property the harness sets around
  * each call; plans find theirs by time, after the harness drains the
  * listener bus at the end of every call. Spans stay in memory. */
class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobOf = mutable.Map.empty[Int, Span]          // stage id -> job span
  private val stageSpans = mutable.Map.empty[(Int, Int), Span]
  private val stageRuns = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val planned = mutable.Map.empty[Int, Seq[Int]]     // job id -> stage ids
  private val submitted = mutable.Set.empty[Int]
  private val jobSpans = mutable.Map.empty[Int, Span]
  // build and action span of the operator call in progress; the action
  // is null while the call is still building its DataFrame
  @volatile private var call: (Span, Span) = (null, null)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Spans opened since span `id` (ids are positions in the buffer). */
  def since(id: Int): Seq[Span] = synchronized(spans.drop(id).toList)

  def open(parent: Int, kind: String, name: String,
           start: Long = System.currentTimeMillis()): Span = synchronized {
    val s = Span(spans.size, parent, kind, name, start, start)
    spans += s
    s
  }

  def close(s: Span): Unit = synchronized { s.end = System.currentTimeMillis() }

  def setCall(build: Span, action: Span): Unit = call = (build, action)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(ParentProp)))
    parent.foreach { p =>
      val j = open(p.toInt, "job", s"job ${e.jobId}", e.time)
      jobSpans(e.jobId) = j
      planned(e.jobId) = e.stageIds
      e.stageIds.foreach(s => if (!jobOf.contains(s)) jobOf(s) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach { j =>
      j.end = e.time
      j.attrs("stages_skipped") =
        planned.remove(e.jobId).getOrElse(Nil).count(s => !submitted(s)).toDouble
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    submitted += i.stageId
    jobOf.get(i.stageId).foreach { j =>
      val s = open(j.id, "stage", s"stage ${i.stageId}.${i.attemptNumber()}",
        i.submissionTime.getOrElse(System.currentTimeMillis()))
      stageSpans((i.stageId, i.attemptNumber())) = s
      stageRuns((i.stageId, i.attemptNumber())) = mutable.ArrayBuffer.empty
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    stageSpans.get(key).foreach { s =>
      add(s, "tasks", 1)
      if (e.reason != Success) add(s, "tasks_failed", 1)
      add(s, "task_wait_ms", math.max(0L, e.taskInfo.launchTime - s.start).toDouble)
      if (e.taskMetrics != null) stageRuns(key) += e.taskMetrics.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    stageSpans.remove(key).foreach { s =>
      s.end = i.completionTime.getOrElse(System.currentTimeMillis())
      Option(i.taskMetrics).foreach { m =>
        add(s, "executor_run_ms", m.executorRunTime.toDouble)
        add(s, "executor_cpu_ns", m.executorCpuTime.toDouble)
        add(s, "gc_ms", m.jvmGCTime.toDouble)
        add(s, "shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add(s, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(s, "spill_mem_bytes", m.memoryBytesSpilled.toDouble)
        add(s, "spill_disk_bytes", m.diskBytesSpilled.toDouble)
        add(s, "result_bytes", m.resultSize.toDouble)
        add(s, "input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(s, "input_records", m.inputMetrics.recordsRead.toDouble)
      }
      val runs = stageRuns.remove(key).getOrElse(mutable.ArrayBuffer.empty).sorted
      if (runs.nonEmpty)
        s.attrs("task_skew") = runs.last.toDouble / math.max(1L, runs(runs.size / 2))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    plan(funcName, qe)

  private def plan(funcName: String, qe: QueryExecution): Unit = synchronized {
    val (build, action) = call
    if (build != null) {
      val ph = Seq("analysis", "optimization", "planning")
        .flatMap(n => qe.tracker.phases.get(n).map(n -> _))
      if (ph.nonEmpty) {
        val start = ph.map(_._2.startTimeMs).min
        val parent = if (action == null || start < action.start) build else action
        val p = open(parent.id, "plan", funcName, start)
        p.end = ph.map(_._2.endTimeMs).max
        ph.foreach { case (n, s) => open(p.id, "catalyst", n, s.startTimeMs).end = s.endTimeMs }
        val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
        def walk(n: SparkPlan): Unit = if (seen.put(n, ()) == null) {
          n match {
            case f: FileSourceScanExec =>
              add(p, "files", metric(f, "numFiles"))
              add(p, "scan_ms", metric(f, "scanTime"))
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: QueryStageExec => walk(q.plan)
            case r: ReusedExchangeExec => walk(r.child)
            case _ =>
          }
          (n.children ++ n.subqueries).foreach(walk)
        }
        try walk(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => }
      }
    }
  }
}

object Tracer {
  /** Local property naming the build/action span a job belongs to. */
  val ParentProp = "perfbench.parent"

  private def add(s: Span, k: String, v: Double): Unit =
    s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  private def merged(iv: Seq[(Long, Long)]): List[(Long, Long)] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: t, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: t
      case (acc, x) => x :: acc
    }

  /** Milliseconds of window `w` that the union of `iv` covers. */
  def covered(iv: Seq[(Long, Long)], w: (Long, Long)): Long =
    merged(iv.map { case (s, e) => (math.max(s, w._1), math.min(e, w._2)) })
      .map(x => x._2 - x._1).sum

  private def iv(s: Span): (Long, Long) = (s.start, s.end)
  private def len(s: Span): Long = math.max(0L, s.end - s.start)

  /** Layer metrics of one operator call, from its spans. `layer` is the
    * module the operator lives in (engine or pipeline). Self times
    * partition the call's wall time: the module's own driver code is the
    * build time no plan phase or job covers; Catalyst is every plan
    * phase; job time not under a plan phase is split between sources and
    * spark by the scans' share of executor run time; the action's time
    * outside plans and jobs (job submission, result handling) is spark. */
  def opMetrics(spans: Seq[Span], layer: String, build: Span,
                action: Span): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    def under(p: Span, kind: String) = kids.getOrElse(p.id, Nil).filter(_.kind == kind)
    val jobsB = under(build, "job"); val jobsA = under(action, "job")
    val jobs = jobsB ++ jobsA
    val plans = under(build, "plan") ++ under(action, "plan")
    val cat = plans.flatMap(under(_, "catalyst"))
    val stages = jobs.flatMap(under(_, "stage"))
    def sum(xs: Seq[Span], k: String) = xs.map(_.attrs.getOrElse(k, 0.0)).sum
    val catIv = cat.map(iv); val jobIv = jobs.map(iv)
    val catB = covered(catIv, iv(build)); val covB = covered(catIv ++ jobIv, iv(build))
    val catA = covered(catIv, iv(action)); val covA = covered(catIv ++ jobIv, iv(action))
    val jobsOnly = (covB - catB) + (covA - catA)
    val runMs = sum(stages, "executor_run_ms")
    val scanMs = sum(plans, "scan_ms")
    val share = if (runMs > 0) math.min(1.0, scanMs / runMs) else 0.0
    val wall = len(build) + len(action)
    val phase = cat.groupBy(_.name).map { case (n, xs) => n -> xs.map(len).sum / 1e3 }
    Map(
      s"$layer.build_s" -> len(build) / 1e3,
      s"$layer.probe_jobs" -> jobsB.size.toDouble,
      s"$layer.probe_job_s" -> covered(jobsB.map(iv), iv(build)) / 1e3,
      s"$layer.self_s" -> (len(build) - covB) / 1e3,
      "catalyst.self_s" -> (catB + catA) / 1e3,
      "sources.self_s" -> jobsOnly * share / 1e3,
      "spark.self_s" -> (jobsOnly * (1 - share) + len(action) - covA) / 1e3,
      "catalyst.analysis_s" -> phase.getOrElse("analysis", 0.0),
      "catalyst.optimization_s" -> phase.getOrElse("optimization", 0.0),
      "catalyst.planning_s" -> phase.getOrElse("planning", 0.0),
      "catalyst.plans" -> plans.size.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.stages_skipped" -> sum(jobs, "stages_skipped"),
      "spark.tasks" -> sum(stages, "tasks"),
      "spark.tasks_failed" -> sum(stages, "tasks_failed"),
      "spark.job_s" -> covered(jobIv, (build.start, action.end)) / 1e3,
      "spark.driver_gap_s" -> (wall - covered(jobIv, (build.start, action.end))) / 1e3,
      "spark.executor_run_s" -> runMs / 1e3,
      "spark.executor_cpu_s" -> sum(stages, "executor_cpu_ns") / 1e9,
      "spark.gc_s" -> sum(stages, "gc_ms") / 1e3,
      "spark.task_wait_s" -> sum(stages, "task_wait_ms") / 1e3,
      "spark.shuffle_fetch_wait_s" -> sum(stages, "shuffle_fetch_wait_ms") / 1e3,
      "spark.shuffle_write_bytes" -> sum(stages, "shuffle_write_bytes"),
      "spark.shuffle_read_bytes" -> sum(stages, "shuffle_read_bytes"),
      "spark.spill_mem_bytes" -> sum(stages, "spill_mem_bytes"),
      "spark.spill_disk_bytes" -> sum(stages, "spill_disk_bytes"),
      "spark.result_bytes" -> sum(stages, "result_bytes"),
      "spark.task_skew" -> (1.0 +: stages.flatMap(_.attrs.get("task_skew"))).max,
      "sources.files" -> sum(plans, "files"),
      "sources.input_bytes" -> sum(stages, "input_bytes"),
      "sources.input_records" -> sum(stages, "input_records"),
      "sources.scan_s" -> scanMs / 1e3,
      "wall_s" -> wall / 1e3)
  }
}
