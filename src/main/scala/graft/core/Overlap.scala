package graft.core

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, Future, Promise}
import scala.util.{Failure, Success}

/** The engine's one way to run driver work concurrently: independent
  * Spark jobs overlap (guide §2.6) because actions are only sequential
  * when driver code calls them sequentially — when two legs of a query
  * share no state (the two half-store builds of x14, a store write vs.
  * the delta's signature materialization in x12), submitting them
  * concurrently lets the second job's tasks back-fill executors freed
  * by the first job's straggler tail instead of leaving the cluster
  * idle. FIFO scheduling (the default) gives exactly that back-fill
  * behaviour. `pipeline.Pipeline.Runner` runs its stages on [[task]]
  * too.
  *
  * Every leg or stage runs on a fresh daemon thread (never blocks JVM
  * exit). Spark's local properties (job group, job description) are
  * inheritable thread-locals copied when a thread is created, so each
  * leg carries its CALLER's properties: a job group set by the caller
  * tags, and cancels, the legs' jobs too. No thread ever waits on a
  * bounded pool, so legs may themselves call `par`: three legs are
  * `par(a, par(b, c))`.
  *
  * Precondition: the legs' outputs are independent — no leg reads what
  * another writes (a table, a path, a mutable collection), so every leg
  * computes the same frames it did sequentially; only the submission
  * ORDER changes, which no result in this codebase depends on. */
object Overlap {

  /** `body` on a fresh daemon thread that inherits the calling thread's
    * Spark local properties. Unlike `Future(body)`, any `Throwable`
    * completes the future (a fatal error arrives boxed in an
    * `ExecutionException`), so no waiter hangs on a dead leg. */
  private[graft] def task[A](body: => A): Future[A] = {
    val p = Promise[A]()
    val t = new Thread(() => p.complete(try Success(body) catch { case e: Throwable => Failure(e) }),
      "graft-overlap")
    t.setDaemon(true)
    t.start()
    p.future
  }

  /** Run two independent legs concurrently. Returns once both have
    * finished; rethrows the first failure in leg order. */
  def par[A, B](a: => A, b: => B): (A, B) = {
    val (fa, fb) = (task(a), task(b))
    settle(fa, fb)
    (fa.value.get.get, fb.value.get.get)
  }

  /** Waits for every leg, failed or not, so no leg outlives its call. */
  private def settle(legs: Future[_]*): Unit = legs.foreach(Await.ready(_, Duration.Inf))
}
