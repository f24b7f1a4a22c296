package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed query execution as the harness saw it: the call into
  * `SparkEntry.queries` starts at `startUs`, returns its DataFrame at
  * `builtUs`, and `collect()` returns at `endUs` (microseconds since the
  * epoch). */
final case class Execution(index: Int, name: String, pass: Int,
                           startUs: Long, builtUs: Long, endUs: Long) {
  def latencyUs: Long = endUs - startUs
}

/** A span of the trace: a layer boundary crossed by one execution. */
final case class Span(id: Int, parent: Int, name: String, exec: Int,
                      query: String, startUs: Long, endUs: Long)

/** Expression classes of an executed plan, subqueries and adaptive query
  * stages included. */
object PlanExprs extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Set[String] =
    collectWithSubqueries(plan) { case node =>
      node.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName })
    }.flatten.toSet
}

/** Listens to the scheduler and to every query execution, and turns what it
  * heard into per-execution layer metrics and a span tree.
  *
  * Jobs are attributed to a timed execution through the job tag
  * `pb:<index>` that the harness sets around the whole call, next to the
  * `q:<name>` tag; a job started while the query was being built also
  * carries `pb:build`. Stages and tasks follow their job; RDD blocks follow
  * the job that last started. Plan executions are attributed by the time
  * their analysis began.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private case class Job(exec: Int, build: Boolean, startMs: Long, var endMs: Long)
  private case class StageRun(job: Int, startMs: Long, endMs: Long)
  private case class TaskRun(exec: Int, launchMs: Long, finishMs: Long, failed: Boolean,
                             runMs: Long, cpuNs: Long, gcMs: Long, inB: Long,
                             shuffleWriteB: Long, shuffleReadB: Long, spillB: Long)
  private case class PlanRun(startMs: Long, phases: Map[String, (Long, Long)], exprs: Set[String])

  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.ArrayBuffer[StageRun]()
  private val tasks = mutable.ArrayBuffer[TaskRun]()
  private val stored = mutable.Map[Int, Long]().withDefaultValue(0L)
  private val plans = mutable.ArrayBuffer[PlanRun]()
  private var lastExec = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val exec = tags.collectFirst { case t if t.startsWith("pb:") && t != "pb:build" =>
      t.drop(3).toInt }.getOrElse(-1)
    jobs(e.jobId) = Job(exec, tags("pb:build"), e.time, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    lastExec = exec
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (job <- stageJob.get(si.stageId); start <- si.submissionTime)
      stages += StageRun(job, start, si.completionTime.getOrElse(start))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val exec = stageJob.get(e.stageId).flatMap(jobs.get).map(_.exec).getOrElse(-1)
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += (if (m == null)
      TaskRun(exec, info.launchTime, info.finishTime, e.reason != Success, 0, 0, 0, 0, 0, 0, 0)
    else TaskRun(exec, info.launchTime, info.finishTime, e.reason != Success,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
      stored(lastExec) += b.memSize + b.diskSize
  }

  private def planRun(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    if (phases.nonEmpty) {
      val exprs = PlanExprs.of(qe.executedPlan)
      synchronized { plans += PlanRun(phases.values.map(_._1).min, phases, exprs) }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planRun(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planRun(qe)

  def drain(sc: SparkContext): Unit = PerfbenchBus.drain(sc)

  /** Expression classes of every plan executed while `x` ran. */
  def exprsOf(x: Execution): Set[String] = synchronized {
    plans.filter(p => within(x, p.startMs)).flatMap(_.exprs).toSet
  }

  private def within(x: Execution, ms: Long): Boolean =
    ms * 1000 >= x.startUs - 1000 && ms * 1000 <= x.endUs

  private def execOf(j: Job, xs: Seq[Execution]): Int =
    if (j.exec >= 0) j.exec
    else xs.find(x => within(x, j.startMs)).map(_.index).getOrElse(-1)

  /** Layer metrics of every execution, and the spans they were computed
    * from. Self times partition the execution's wall time: each instant goes
    * to the innermost layer active at it (stage, then job, then a plan
    * phase, then the build or action call). */
  def analyse(xs: Seq[Execution]): (Map[Int, Map[String, Double]], Seq[Span]) =
    synchronized {
      val spans = mutable.ArrayBuffer[Span]()
      def span(parent: Int, name: String, x: Execution, s: Long, e: Long): Int = {
        spans += Span(spans.size, parent, name, x.index, x.name, s, math.max(s, e))
        spans.size - 1
      }
      val jobsBy = jobs.toSeq.groupBy { case (_, j) => execOf(j, xs) }
      val stagesBy = stages.groupBy(s => jobs.get(s.job).map(execOf(_, xs)).getOrElse(-1))
      val tasksBy = tasks.groupBy(_.exec)
      val metrics = xs.map { x =>
        val root = span(-1, "query", x, x.startUs, x.endUs)
        val build = span(root, "queries.build", x, x.startUs, x.builtUs)
        val action = span(root, "action", x, x.builtUs, x.endUs)
        def parentAt(us: Long) = if (us < x.builtUs) build else action
        // (start, end, priority, layer)
        val ivs = mutable.ArrayBuffer[(Long, Long, Int, String)](
          (x.startUs, x.builtUs, 2, "self.queries_s"),
          (x.builtUs, x.endUs, 2, "self.action_s"))
        val myPlans: Seq[PlanRun] = plans.filter(p => within(x, p.startMs)).toSeq
        myPlans.foreach(_.phases.foreach { case (ph, (s, e)) =>
          span(parentAt(s * 1000), s"plans.$ph", x, s * 1000, e * 1000)
          ivs += ((s * 1000, e * 1000, 3, "self.plans_s"))
        })
        val myJobs: Seq[(Int, Job)] = jobsBy.getOrElse(x.index, Nil)
        val jobSpan = myJobs.map { case (id, j) =>
          ivs += ((j.startMs * 1000, j.endMs * 1000, 4, "self.scheduling_s"))
          id -> span(if (j.build) build else action, "job", x, j.startMs * 1000, j.endMs * 1000)
        }.toMap
        val myStages: Seq[StageRun] = stagesBy.getOrElse(x.index, Nil).toSeq
        myStages.foreach { s =>
          span(jobSpan.getOrElse(s.job, action), "stage", x, s.startMs * 1000, s.endMs * 1000)
          ivs += ((s.startMs * 1000, s.endMs * 1000, 5, "self.stages_s"))
        }
        val myTasks: Seq[TaskRun] = tasksBy.getOrElse(x.index, Nil).toSeq
        val lat = x.latencyUs / 1e6
        val cpuS = myTasks.map(_.cpuNs).sum / 1e9
        def mb(b: Long) = b / 1048576.0
        def phase(p: String) =
          myPlans.flatMap(_.phases.get(p)).map { case (s, e) => e - s }.sum / 1000.0
        val busy = unionLength(myTasks.map(t => (t.launchMs * 1000, t.finishMs * 1000)),
          x.startUs, x.endUs)
        x.index -> (selfTimes(ivs.toSeq, x.startUs, x.endUs) ++ Map(
          "queries.build_s" -> (x.builtUs - x.startUs) / 1e6,
          "queries.build_jobs" -> myJobs.count(_._2.build).toDouble,
          "plans.analysis_s" -> phase("analysis"),
          "plans.optimization_s" -> phase("optimization"),
          "plans.planning_s" -> phase("planning"),
          "plans.executions" -> myPlans.size.toDouble,
          "scheduling.jobs" -> myJobs.size.toDouble,
          "scheduling.stages" -> myStages.size.toDouble,
          "scheduling.tasks" -> myTasks.size.toDouble,
          "scheduling.failed_tasks" -> myTasks.count(_.failed).toDouble,
          "scheduling.idle_s" -> (lat - busy / 1e6),
          "compute.task_s" -> myTasks.map(_.runMs).sum / 1000.0,
          "compute.cpu_s" -> cpuS,
          "compute.gc_s" -> myTasks.map(_.gcMs).sum / 1000.0,
          "data_movement.scan_mb" -> mb(myTasks.map(_.inB).sum),
          "data_movement.shuffle_write_mb" -> mb(myTasks.map(_.shuffleWriteB).sum),
          "data_movement.shuffle_read_mb" -> mb(myTasks.map(_.shuffleReadB).sum),
          "data_movement.spill_mb" -> mb(myTasks.map(_.spillB).sum),
          "data_movement.stored_mb" -> mb(stored(x.index)),
          "latency_s" -> lat))
      }.toMap
      (metrics, spans.toSeq)
    }

  private def unionLength(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(i => i._2 > i._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  private def selfTimes(ivs: Seq[(Long, Long, Int, String)], lo: Long, hi: Long)
      : Map[String, Double] = {
    val cuts = ivs.flatMap(i => Seq(i._1, i._2)).map(t => math.min(math.max(t, lo), hi))
      .distinct.sorted
    val acc = mutable.Map[String, Long]() ++ Seq("self.queries_s",
      "self.action_s", "self.plans_s", "self.scheduling_s", "self.stages_s").map(_ -> 0L)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val top = ivs.filter(i => i._1 <= a && i._2 >= b).maxBy(_._3)
      acc(top._4) += b - a
    }
    acc.map { case (k, v) => k -> v / 1e6 }.toMap
  }
}

object Trace {
  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val body = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","exec":${s.exec},""" +
        s""""query":"${s.query}","start_us":${s.startUs},"end_us":${s.endUs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
  }
}
