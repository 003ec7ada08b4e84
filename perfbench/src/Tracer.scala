package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for traced runs.
  *
  * The harness opens `op` spans (a pass) and `gate` spans (one query inside
  * a pass) around its calls into the program. A [[SparkListener]] records
  * every SQL execution, job and stage, with tasks folded into their stage,
  * and a [[QueryExecutionListener]] adds each execution's planning-phase
  * times, executed-plan shuffle-exchange counts and write target. Everything stays
  * in memory until [[spans]] is called at the end of the run.
  *
  * Events carry wall-clock milliseconds; a Spark span belongs to the
  * innermost harness span whose interval holds its start, which is
  * unambiguous because the harness runs one op at a time.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val sqls = mutable.LinkedHashMap.empty[Long, Sql]
  private val planAttrs = mutable.Map.empty[Long, Map[String, Any]]
  private val harness = mutable.ArrayBuffer.empty[Harness]
  private val open = mutable.Stack.empty[Harness]
  private val runStart = System.currentTimeMillis()

  // ---- harness spans (driver thread) ----

  def begin(kind: String, name: String): Unit = synchronized {
    val parent = open.headOption.map(_.id).getOrElse("run")
    val h = Harness(s"$kind-${harness.size}", parent, kind, name, System.currentTimeMillis())
    harness += h
    open.push(h)
  }

  def end(attrs: (String, Any)*): Unit = synchronized {
    val h = open.pop()
    h.end = System.currentTimeMillis()
    h.attrs ++= attrs
  }

  /** Add attributes to the latest op span (sizes measured after it ended). */
  def annotateLastOp(attrs: (String, Any)*): Unit = synchronized {
    harness.reverseIterator.find(_.kind == "op").foreach(_.attrs ++= attrs)
  }

  /** Register the execution listener first: the session creates its
    * execution-listener bus, which joins the shared listener-bus queue, on
    * first access, and it must sit ahead of this listener there (see
    * `pendingPlan`). Re-attaching appends this listener again, behind it. */
  def attach(): Unit = {
    spark.listenerManager.register(this)
    spark.sparkContext.addSparkListener(this)
  }

  /** Wait until every queued event has been delivered, then stop listening. */
  def detach(): Unit = {
    Tracer.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  // ---- Spark events (listener-bus thread) ----

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage (highest id) is named after the job's call site
    val result = e.stageInfos.maxByOption(_.stageId)
    jobs(e.jobId) = Job(e.jobId, e.time, e.time,
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L),
      result.map(_.name).getOrElse(""), result.map(_.details).getOrElse(""), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), Stage(i.stageId, i.attemptNumber(), i.name))
    s.start = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), Stage(i.stageId, i.attemptNumber(), i.name))
    s.start = i.submissionTime.getOrElse(s.start)
    s.end = i.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), Stage(e.stageId, e.stageAttemptId, ""))
    val a = s.agg
    val m = e.taskMetrics
    a.tasks += 1
    a.durMs += e.taskInfo.duration
    if (m != null) {
      a.runMs += m.executorRunTime
      a.runTimes += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.spillBytes += m.diskBytesSpilled
      a.peakExecBytes = math.max(a.peakExecBytes, m.peakExecutionMemory)
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      val sr = m.shuffleReadMetrics
      a.shReadBytes += sr.remoteBytesRead + sr.localBytesRead
      a.shReadRecords += sr.recordsRead
      a.fetchWaitMs += sr.fetchWaitTime
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0) a.emptyTasks += 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqls(s.executionId) = Sql(s.executionId, s.time, s.time, s.description, s.details)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqls.get(s.executionId).foreach(_.end = s.time)
      pendingPlan.foreach(attrs => planAttrs(s.executionId) = attrs)
      pendingPlan = None
    }
    case _ =>
  }

  // ---- query executions (listener-bus thread, after each execution) ----

  // A QueryExecution's id is not its SQL execution id, so the attributes
  // wait here for the execution-end event. Both listeners sit on the shared
  // listener-bus queue, the session's execution-listener bus ahead (see
  // attach), so for one end event this callback runs just before onOtherEvent.
  private var pendingPlan: Option[Map[String, Any]] = None

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val attrs = Tracer.planAttrs(qe)
    synchronized { pendingPlan = Some(attrs) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = {
    val attrs = Tracer.planAttrs(qe) + ("error" -> error.toString)
    synchronized { pendingPlan = Some(attrs) }
  }

  // ---- output ----

  /** Every span as a map: harness spans, then SQL executions, jobs and
    * stages, each with `id`, `parent`, `kind`, `name`, `op`, `start_ms`
    * and `end_ms`, plus its own attributes. */
  def spans(): Seq[Map[String, Any]] = synchronized {
    val byId = harness.map(h => h.id -> h).toMap
    def opOf(h: Harness): String = if (h.parent == "run") h.id else opOf(byId(h.parent))
    /** innermost harness span whose interval holds `t` */
    def enclosing(t: Long): Option[Harness] =
      harness.filter(h => h.start <= t && t <= h.end).sortBy(h => h.end - h.start).headOption
    def base(id: String, parent: Option[Harness], kind: String, name: String, start: Long, end: Long) =
      Map[String, Any]("id" -> id, "parent" -> parent.map(_.id).getOrElse("run"), "kind" -> kind,
        "name" -> name, "op" -> parent.map(opOf).getOrElse(""), "start_ms" -> start, "end_ms" -> end)

    val run = Map[String, Any]("id" -> "run", "parent" -> "", "kind" -> "run", "name" -> "run",
      "op" -> "", "start_ms" -> runStart, "end_ms" -> System.currentTimeMillis())
    val harnessSpans = harness.map(h =>
      base(h.id, byId.get(h.parent), h.kind, h.name, h.start, h.end) ++ h.attrs + ("op" -> opOf(h)))
    val sqlSpans = sqls.values.map { s =>
      base(s"sql-${s.id}", enclosing(s.start), "sql", s.description, s.start, s.end) ++
        planAttrs.getOrElse(s.id, Map.empty)
    }
    val sqlHolder = sqls.values.map(s => s.id -> enclosing(s.start)).toMap
    val jobSpans = jobs.values.map { j =>
      val holder = sqlHolder.getOrElse(j.execId, enclosing(j.start))
      val parent = if (sqls.contains(j.execId)) s"sql-${j.execId}" else holder.map(_.id).getOrElse("run")
      // AQE runs broadcast and shuffle-stage jobs on its own threads, whose
      // call sites hold no program frame; those take their execution's module
      val module = Tracer.module(j.callLong) match {
        case "other" => sqls.get(j.execId).map(s => Tracer.module(s.callLong)).getOrElse("other")
        case m => m
      }
      base(s"job-${j.id}", holder, "job", j.callShort, j.start, j.end) ++ Map(
        "parent" -> parent, "call_site" -> j.callShort, "module" -> module, "stages" -> j.stageIds)
    }
    val jobOfStage = jobs.values.toSeq.sortBy(_.id).reverse.flatMap(j => j.stageIds.map(_ -> j)).toMap
    val stageSpans = stages.values.filter(_.agg.tasks > 0).map { s =>
      val job = jobOfStage.get(s.id)
      val holder = job.flatMap(j => sqlHolder.getOrElse(j.execId, enclosing(j.start)))
      val a = s.agg
      val sorted = a.runTimes.sorted
      base(s"stage-${s.id}.${s.attempt}", holder, "stage", s.name, s.start, s.end) ++ Map(
        "parent" -> job.map(j => s"job-${j.id}").getOrElse("run"),
        "tasks" -> a.tasks, "task_duration_ms" -> a.durMs, "run_ms" -> a.runMs,
        "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "spill_bytes" -> a.spillBytes,
        "peak_exec_bytes" -> a.peakExecBytes, "input_bytes" -> a.inBytes,
        "input_records" -> a.inRecords, "output_bytes" -> a.outBytes,
        "shuffle_read_bytes" -> a.shReadBytes, "shuffle_read_records" -> a.shReadRecords,
        "fetch_wait_ms" -> a.fetchWaitMs, "shuffle_write_bytes" -> a.shWriteBytes,
        "empty_tasks" -> a.emptyTasks,
        "max_run_ms" -> (if (sorted.isEmpty) 0L else sorted.last),
        "median_run_ms" -> (if (sorted.isEmpty) 0L else sorted(sorted.size / 2)))
    }
    Seq(run) ++ harnessSpans ++ sqlSpans ++ jobSpans ++ stageSpans
  }
}

object Tracer extends AdaptiveSparkPlanHelper {

  private final class TaskAgg {
    var tasks, durMs, runMs, cpuNs, gcMs, spillBytes, peakExecBytes = 0L
    var inBytes, inRecords, outBytes, shReadBytes, shReadRecords, fetchWaitMs, shWriteBytes = 0L
    var emptyTasks = 0L
    val runTimes = mutable.ArrayBuffer.empty[Long]
  }
  private final case class Job(id: Int, start: Long, var end: Long, execId: Long,
                               callShort: String, callLong: String, stageIds: Seq[Int])
  private final case class Stage(id: Int, attempt: Int, name: String, var start: Long = 0L,
                                 var end: Long = 0L, agg: TaskAgg = new TaskAgg)
  private final case class Sql(id: Long, start: Long, var end: Long, description: String,
                                 callLong: String)
  private final case class Harness(id: String, parent: String, kind: String, name: String,
                                   start: Long, var end: Long = 0L,
                                   attrs: mutable.Map[String, Any] = mutable.Map.empty)

  /** Block until the listener bus has delivered every posted event
    * (`SparkContext.listenerBus` is Spark-internal, so it is looked up
    * reflectively). */
  def drainListenerBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** The graft module of the innermost program frame of a long call site:
    * `graft.pipeline.*` → pipeline, `graft.sources.*` → sources, and so on;
    * `bench` for the benchmark's own checks. */
  def module(callLong: String): String =
    callLong.split("\n").iterator.map(_.trim.stripPrefix("at ").trim)
      .collectFirst {
        case f if f.startsWith("graft.") =>
          val parts = f.split('.')
          if (parts.length > 2 && parts(1).forall(_.isLower)) parts(1) else "graft"
        case f if f.startsWith("perfbench.") => "bench"
      }.getOrElse("other")

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    collectWithSubqueries(plan) { case s: ShuffleExchangeLike => s }

  /** Planning-phase times, exchange counts and write target of one execution. */
  def planAttrs(qe: QueryExecution): Map[String, Any] = {
    val phases = qe.tracker.phases
    def phase(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val ex = shuffles(plan)
    val explicit = ex.count { s =>
      val o = s.shuffleOrigin.toString
      o.startsWith("REPARTITION") || o.startsWith("REBALANCE")
    }
    val writes = collect(plan) { case d: DataWritingCommandExec => d.cmd }
    val target = writes.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
    val files = writes.flatMap(_.metrics.get("numFiles").map(_.value)).sum
    Map("analysis_ms" -> phase("analysis"), "optimization_ms" -> phase("optimization"),
      "planning_ms" -> phase("planning"), "exchanges" -> ex.size,
      "explicit_exchanges" -> explicit, "files_written" -> files) ++
      target.map(t => "write_target" -> t)
  }
}
