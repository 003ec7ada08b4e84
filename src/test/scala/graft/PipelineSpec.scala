package graft

import java.util.concurrent.{CountDownLatch, TimeUnit, TimeoutException}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline._
import graft.sources.{Readers, Writers}

/** Pipeline runner: dependency order, skip-on-empty short-circuit,
  * error notification, concurrent independent stages, and shared
  * upstream stages computed once per run.
  *
  * Stage callbacks run on the stages' own threads, so every collector
  * a callback mutates is updated under `synchronized`. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Bounded wait for the concurrency specs: a runner that serializes
    * stages fails them instead of hanging. */
  private def await(latch: CountDownLatch): Boolean = latch.await(30, TimeUnit.SECONDS)

  test("stages run in dependency order; shared upstream memoized") {
    var builds = 0
    var sunk: Seq[String] = Nil
    val r = new Runner()
      .add(Stage("dim", Nil, { _ => synchronized(builds += 1); Seq((1, "c:1")).toDF("sk", "nk") },
        df => { synchronized(sunk :+= "dim"); 1L }))
      .add(Stage("fact_a", Seq("dim"), { f => f("dim").select("sk") },
        _ => { synchronized(sunk :+= "fact_a"); 1L }))
      .add(Stage("fact_b", Seq("dim"), { f => f("dim").select("nk") },
        _ => { synchronized(sunk :+= "fact_b"); 1L }))
      .run()
    assert(builds == 1)
    assert(r.values.forall(_ == Completed()))
    assert(sunk.head == "dim" && sunk.toSet == Set("dim", "fact_a", "fact_b"))
  }

  test("empty input skips the stage and its dependents") {
    var sinkRan = false
    val r = new Runner()
      .add(Stage("src", Nil, { _ => Seq.empty[(Int, String)].toDF("a", "b") }, _.count()))
      .add(Stage("down", Seq("src"), { f => f("src") }, _ => { synchronized { sinkRan = true }; 1L }))
      .run()
    assert(r("src") == Skipped && r("down") == Skipped && !sinkRan)
  }

  test("a sinked stage learns it has rows from its own write: one job, no probe") {
    val out = s"${TestDirs.fresh("publish_rows")}/t"
    val (r, jobs) = jobsOf(new Runner()
      .add(Stage("t", Nil, { _ => spark.range(0, 10, 1, 2).toDF() }, Writers.parquetPublish(_, out)))
      .run())
    assert(r == Map("t" -> Completed()))
    assert(jobs == 1, s"the stage ran $jobs jobs, not its write alone")
    assert(Readers.parquet(spark, out).count() == 10)
  }

  test("a two-stage chain costs exactly its two writes' jobs") {
    val tmp = TestDirs.fresh("publish_chain")
    val (r, jobs) = jobsOf(new Runner()
      .add(Stage("up", Nil, { _ => spark.range(0, 10, 1, 2).toDF() }, Writers.parquetPublish(_, s"$tmp/up")))
      .add(Stage("down", Seq("up"), { f => f("up").filter($"id" % 2 === 0) },
        Writers.parquetPublish(_, s"$tmp/down")))
      .run())
    assert(r == Map("up" -> Completed(), "down" -> Completed()))
    assert(jobs == 2, s"the chain ran $jobs jobs, not its two writes alone")
    assert(Readers.parquet(spark, s"$tmp/down").count() == 5)
  }

  test("an empty sinked stage is Skipped, publishes nothing and keeps the table it would replace") {
    val tmp = TestDirs.fresh("publish_empty")
    val out = s"$tmp/t"
    assert(Writers.parquetPublish(spark.range(0, 3, 1, 1).toDF(), out) == 3)
    val nothing = Seq(
      "limit(0)" -> spark.range(0, 10, 1, 2).toDF().limit(0),
      "a filter that keeps nothing" -> spark.range(0, 10, 1, 2).toDF().filter($"id" < 0))
    for ((how, empty) <- nothing) {
      var downRan = false
      val run = Future(new Runner()
        .add(Stage("t", Nil, { _ => empty }, Writers.parquetPublish(_, out)))
        .add(Stage("down", Seq("t"), { f => synchronized { downRan = true }; f("t") }, _.count()))
        .run())(ExecutionContext.global)
      val r = Await.result(run, 60.seconds)
      assert(r == Map("t" -> Skipped, "down" -> Skipped) && !downRan, how)
      assert(new java.io.File(tmp).list().toSeq == Seq("t"), s"$how left ${new java.io.File(tmp).list().toSeq}")
      assert(Readers.parquet(spark, out).orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L), how)
    }
  }

  test("failure notifies and skips dependents") {
    var notified: Option[String] = None
    val r = new Runner((name, _) => synchronized { notified = Some(name) })
      .add(Stage("boom", Nil, { _ => throw new RuntimeException("x") }, _.count()))
      .add(Stage("down", Seq("boom"), { f => f("boom") }, _.count()))
      .run()
    assert(r("boom").isInstanceOf[Errored] && r("down") == Skipped)
    assert(notified.contains("boom"))
  }

  test("independent stages run at the same time") {
    val met = new CountDownLatch(2)
    def meet(n: Int) = Stage(s"s$n", Nil, { _ =>
      met.countDown()
      require(await(met), s"s$n waited alone: independent stages ran one at a time")
      Seq(n).toDF("n")
    }, _.count())
    val r = new Runner().add(meet(1)).add(meet(2)).run()
    assert(r == Map("s1" -> Completed(), "s2" -> Completed()))
  }

  test("a shared stage with a sink and three dependents computes its rows once") {
    val computed = spark.sparkContext.longAccumulator("shared-rows")
    val tick = udf { (id: Long) => computed.add(1); id }
    // each consumer sums the column, so an unshared plan re-runs the udf
    def total(df: org.apache.spark.sql.DataFrame): Long = df.agg(count(lit(1)), sum("v")).first().getLong(0)
    val r = new Runner()
      .add(Stage("up", Nil, { _ => spark.range(0, 100, 1, 4).select(tick($"id").as("v")) }, total))
      .add(Stage("a", Seq("up"), { f => f("up") }, total))
      .add(Stage("b", Seq("up"), { f => f("up").filter($"v" > 10) }, total))
      .add(Stage("c", Seq("up"), { f => f("up").select(($"v" * 2).as("v")) }, total))
      .run()
    assert(r.values.forall(_ == Completed()))
    assert(computed.value == 100L, s"the shared stage computed ${computed.value} rows, not 100")
  }

  test("a failing branch neither skips nor cancels an independent sibling") {
    var notified = Seq.empty[String]
    val failed = new CountDownLatch(1)
    var siblingRows = 0L
    val r = new Runner((name, _) => { synchronized(notified :+= name); failed.countDown() })
      .add(Stage("boom", Nil, { _ => throw new RuntimeException("x") }, _.count()))
      .add(Stage("down", Seq("boom"), { f => f("boom") }, _.count()))
      .add(Stage("sibling", Nil, { _ =>
        require(await(failed), "the failing branch never notified")
        spark.range(0, 50, 1, 4).toDF()
      }, df => synchronized { siblingRows = df.count(); siblingRows }))
      .run()
    assert(r("boom").isInstanceOf[Errored] && r("down") == Skipped)
    assert(r("sibling") == Completed() && siblingRows == 50L)
    assert(notified == Seq("boom"))
  }

  test("no dependent build starts before its upstream sink has returned") {
    var events = Seq.empty[String]
    def log(e: String): Unit = synchronized(events :+= e)
    val up = Stage("up", Nil, { _ => Seq(1, 2, 3).toDF("v") }, { df =>
      val rows = df.count()
      Thread.sleep(300)
      log("up:sunk")
      rows
    })
    val runner = new Runner().add(up)
    for (d <- Seq("a", "b", "c"))
      runner.add(Stage(d, Seq("up"), { f => log(s"$d:build"); f("up") }, _.count()))
    assert(runner.run().values.forall(_ == Completed()))
    val sunkAt = events.indexOf("up:sunk")
    assert(sunkAt >= 0 && Seq("a", "b", "c").forall(d => events.indexOf(s"$d:build") > sunkAt),
      s"events: $events")
  }

  test("a fatal error in a stage build fails run() instead of hanging it") {
    val run = Future(new Runner()
      .add(Stage("fatal", Nil, { _ => throw new StackOverflowError("build") }, _.count()))
      .run())(ExecutionContext.global)
    val e = intercept[Throwable](Await.result(run, 60.seconds))
    assert(!e.isInstanceOf[TimeoutException], "run() was still pending after 60 s")
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[StackOverflowError]), e)
  }

  test("run() leaves nothing in the cache manager") {
    spark.catalog.clearCache()
    val cache = spark.sharedState.cacheManager
    var cachedDuringRun = false
    val r = new Runner()
      .add(Stage("up", Nil, { _ => spark.range(0, 20, 1, 2).toDF() }, _.count()))
      .add(Stage("down", Seq("up"), { f => synchronized { cachedDuringRun = !cache.isEmpty }; f("up") }, _.count()))
      .run()
    assert(r.values.forall(_ == Completed()))
    assert(cachedDuringRun, "the shared stage was never cached")
    assert(cache.isEmpty)
  }
}
