package graft.core

import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Overlap independent Spark jobs from a small driver-side thread pool
  * (guide §2.6): actions are only sequential because driver code calls
  * them sequentially — when two legs of a query share no state (the two
  * half-store builds of x14, a store write vs. the delta's signature
  * materialization in x12), submitting them concurrently lets the second
  * job's tasks back-fill executors freed by the first job's straggler
  * tail instead of leaving the cluster idle. FIFO scheduling (the
  * default) gives exactly that back-fill behaviour.
  *
  * The pool is deliberately tiny (guide: "2-3 jobs in flight is plenty")
  * and daemon (never blocks JVM exit). Job-description properties are
  * thread-local in Spark, so concurrent legs stay correctly labelled.
  *
  * Precondition: the legs' outputs are independent — no leg reads what
  * another writes (a table, a path, a mutable collection), so every leg
  * computes the same frames it did sequentially; only the submission
  * ORDER changes, which no result in this codebase depends on.
  *
  * Legs must not call `par`/`par3` themselves: a leg waiting on legs
  * queued behind it in the same fixed pool would deadlock the driver, so
  * such a nested call throws `IllegalStateException` instead. Any number
  * of callers outside the pool (concurrent pipeline stages, for one) may
  * call concurrently: their legs queue, and no pool thread ever waits. */
object Overlap {
  private val ThreadName = "graft-overlap"

  private lazy val pool = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(3, (r: Runnable) => {
      val t = new Thread(r, ThreadName)
      t.setDaemon(true)
      t
    }))

  private def requireOutsidePool(): Unit =
    if (Thread.currentThread.getName == ThreadName)
      throw new IllegalStateException(
        "Overlap.par/par3 called from an Overlap leg: nested calls would " +
          "deadlock the fixed pool; run the inner legs sequentially")

  /** Run two independent legs concurrently; rethrows the first failure. */
  def par[A, B](a: => A, b: => B): (A, B) = {
    requireOutsidePool()
    val fa = Future(a)(pool)
    val fb = Future(b)(pool)
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
  }

  /** Run three independent legs concurrently; rethrows the first failure. */
  def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    requireOutsidePool()
    val fa = Future(a)(pool)
    val fb = Future(b)(pool)
    val fc = Future(c)(pool)
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf),
      Await.result(fc, Duration.Inf))
  }
}
