package graft

import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.{ConcurrentLinkedQueue, TimeoutException}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.core.Overlap
import graft.pipeline.Pipeline._

/** `core/Overlap`: every leg runs on a fresh thread carrying its
  * caller's Spark job properties; `par` returns or throws only
  * after every leg has finished, a fatal error in a leg fails the call
  * instead of hanging it, and nested calls complete. Callers on other
  * threads, such as concurrent pipeline stages, use it freely. */
class OverlapSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body(i)` for each i below `n` on its own plain thread and
    * rethrows the first failure; the bounded join fails a hang. */
  private def onThreads(n: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map(i =>
      new Thread(() => try body(i) catch { case t: Throwable => errors.add(t) }))
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(threads.forall(!_.isAlive), "a caller thread was still running after 60 s")
    errors.asScala.headOption.foreach(throw _)
  }

  test("each caller's leg jobs carry only the caller's job group") {
    val Leg = "graft.spec.leg"
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Leg)))
          .foreach(leg => seen.add((leg, e.properties.getProperty("spark.jobGroup.id"))))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // each leg labels its own jobs, so a job's label says which
      // caller's leg ran it whatever thread it ran on
      def leg(label: String): Long = { sc.setLocalProperty(Leg, label); spark.range(100).count() }
      def caller(group: String, round: String): Unit = {
        sc.setJobGroup(group, group)
        Overlap.par(leg(s"$group/$round/a"), leg(s"$group/$round/b"))
      }
      // callers one after another, so a later caller's legs may meet
      // threads an earlier caller started; then all three at once
      for (i <- 1 to 3) onThreads(1)(_ => caller(s"gate_$i", "alone"))
      onThreads(3)(i => caller(s"gate_${i + 1}", "together"))
      // the bus delivers events in order: once the sentinel job's start
      // arrives, every leg job's start has arrived before it
      onThreads(1)(_ => leg("sentinel"))
      val deadline = System.nanoTime + 30.seconds.toNanos
      while (!seen.asScala.exists(_._1 == "sentinel") && System.nanoTime < deadline) Thread.sleep(20)
      val legs = seen.asScala.toSeq.filter(_._1 != "sentinel")
      for (group <- Seq("gate_1", "gate_2", "gate_3")) {
        val own = legs.filter(_._1.startsWith(s"$group/"))
        assert(own.map(_._1).toSet ==
          (for (r <- Set("alone", "together"); l <- Set("a", "b")) yield s"$group/$r/$l"),
          s"leg jobs: $legs")
        assert(own.forall(_._2 == group), s"$group's legs ran under another job group: $legs")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("a leg throwing a fatal error fails par instead of hanging it") {
    val call = Future(Overlap.par[Int, Int](throw new StackOverflowError("leg"), 1))(
      ExecutionContext.global)
    val e = intercept[Throwable](Await.result(call, 60.seconds))
    assert(!e.isInstanceOf[TimeoutException], "par was still pending after 60 s")
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[StackOverflowError]), e)
  }

  test("par throws only after every leg has finished") {
    val finished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Overlap.par(
      throw new IllegalStateException("fast"),
      { Thread.sleep(500); finished.set(true) }))
    assert(e.getMessage == "fast")
    assert(finished.get, "par threw while a leg was still running")
  }

  test("nested par calls from Overlap legs complete") {
    // legs that wait on legs of their own; no thread waits on a bounded
    // pool, and the bounded wait turns a deadlock into a test failure
    val nested = Future(Overlap.par(Overlap.par(1, 2),
      Overlap.par(Overlap.par(3, Overlap.par(4, 5)), Overlap.par(6, 7))))(ExecutionContext.global)
    assert(Await.result(nested, 60.seconds) == (((1, 2), ((3, (4, 5)), (6, 7)))))
  }

  test("a pipeline stage thread calls Overlap.par") {
    var counts = (0L, 0L)
    val r = new Runner()
      .add(Stage("legs", Nil, { _ =>
        val legs = Overlap.par(spark.range(10).count(), spark.range(5).count())
        synchronized { counts = legs }
        Seq(1).toDF("v")
      }, _.count()))
      .run()
    assert(r("legs") == Completed())
    assert(counts == ((10L, 5L)))
  }
}
