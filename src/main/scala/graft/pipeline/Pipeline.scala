package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.core.Overlap

/** In-process pipeline graph runner — the engine's replacement for the
  * reference's Airflow DAG orchestration (SURVEY §3, `dags/<dag>/run.py`,
  * `tasks/main.py:59-120`): stage dependencies, skip-on-empty short-circuit
  * (P3, `extract.py:57-59`), and a pluggable failure notifier standing in
  * for the Slack webhook (`helper/slack_notifier.py`).
  *
  * Stages produce DataFrames lazily; an empty stage reports `Skipped`
  * and its dependents do not run — the reference's "No data to process"
  * early return. There is one emptiness rule, and it costs no job: every
  * stage has a sink, a sink returns the rows it published and publishes
  * nothing for an empty frame, and a stage is `Skipped` exactly when its
  * sink returns 0.
  *
  * Concurrency: a stage starts as soon as every dependency has completed,
  * on its own fresh thread ([[graft.core.Overlap.task]]) carrying the
  * Spark local properties of the thread that started it, so every ready
  * stage runs at once — the reference's task-group parallelism under
  * Airflow (SURVEY §3.2, §4). Stage builds and sinks must therefore be
  * thread-safe, and concurrent sinks must write distinct paths. A build
  * sees only its own dependencies' frames.
  *
  * Shared stages evaluate once per run: a stage with at least one
  * dependent is persisted before its sink runs, so the sink's write
  * materializes it and every dependent reads that one copy — the cross-job
  * reuse the reference's job-per-script architecture cannot express
  * (SURVEY §4 caching row). Dependents start only after that sink has
  * returned, and every persisted frame is released before `run` returns.
  */
object Pipeline {

  sealed trait Result
  case class Completed() extends Result
  case object Skipped extends Result
  case class Errored(error: Throwable) extends Result

  /** A pipeline stage. `sink` publishes the built frame and returns the
    * rows it published: 0, with nothing published, for an empty frame. */
  case class Stage(
      name: String,
      deps: Seq[String],
      build: Map[String, DataFrame] => DataFrame,
      sink: DataFrame => Long)

  /** A stage's result, with its frame when it completed. */
  private type Outcome = (Result, Option[DataFrame])

  class Runner(notifier: (String, Throwable) => Unit = (_, _) => ()) {
    private val stages = mutable.LinkedHashMap.empty[String, Stage]

    def add(stage: Stage): Runner = { stages(stage.name) = stage; this }

    /** Run every stage, each once all its dependencies have completed;
      * returns per-stage results. A failed or skipped dependency skips
      * its dependents; independent stages still run. */
    def run(): Map[String, Result] = {
      for (st <- stages.values; d <- st.deps if !stages.contains(d))
        throw new IllegalArgumentException(s"unknown stage: $d")
      val fed = stages.values.flatMap(_.deps).toSet
      // the future glue runs on whichever thread completes a dependency;
      // each stage's own work runs on the fresh thread Overlap.task starts
      implicit val ec: ExecutionContext = ExecutionContext.parasitic
      val persisted = new ConcurrentLinkedQueue[DataFrame]()

      def exec(st: Stage, inputs: Map[String, DataFrame]): Outcome =
        try {
          val built = st.build(inputs)
          // a frame the caller already cached stays theirs
          val shared = fed(st.name) && built.storageLevel == StorageLevel.NONE
          val df =
            if (shared) {
              persisted.add(built)
              built.persist(StorageLevel.MEMORY_AND_DISK)
            } else built
          if (st.sink(df) == 0) (Skipped, None) else (Completed(), Some(df))
        } catch {
          case NonFatal(e) =>
            notifier.synchronized(notifier(st.name, e))
            (Errored(e), None)
        }

      val futures = mutable.LinkedHashMap.empty[String, Future[Outcome]]
      def schedule(name: String): Future[Outcome] = futures.get(name) match {
        case Some(f) => f
        case None =>
          val st = stages(name)
          val f = Future.sequence(st.deps.map(schedule)).flatMap { ups =>
            if (ups.forall(_._2.isDefined)) Overlap.task(exec(st, st.deps.zip(ups.map(_._2.get)).toMap))
            else Future.successful((Skipped, None))
          }
          futures(name) = f
          f
      }

      try {
        val outcomes = Await.result(Future.sequence(stages.keys.toSeq.map(schedule)), Duration.Inf)
        stages.keys.zip(outcomes.map(_._1)).toMap
      } finally persisted.asScala.foreach(_.unpersist())
    }
  }
}
