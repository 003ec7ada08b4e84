package graft

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import graft.core.Overlap
import graft.pipeline.Pipeline._

/** `core/Overlap`: a nested call from a leg fails loudly instead of
  * deadlocking the fixed pool; callers outside the pool, such as
  * concurrent pipeline stages, use it freely. */
class OverlapSpec extends SparkSpec {
  import spark.implicits._

  test("a nested par from an Overlap leg throws instead of deadlocking") {
    // three legs that each nest a par fill the 3-thread pool with legs
    // waiting on work queued behind them; the bounded wait turns a
    // deadlock into a test failure
    val nested = Future(Overlap.par3(Overlap.par(1, 2), Overlap.par(3, 4), Overlap.par(5, 6)))(
      ExecutionContext.global)
    val e = intercept[IllegalStateException](Await.result(nested, 60.seconds))
    assert(e.getMessage.contains("nested"))
    // the pool is still usable afterwards
    assert(Overlap.par(1, 2) == ((1, 2)))
  }

  test("a pipeline stage thread calls Overlap.par") {
    var counts = (0L, 0L)
    val r = new Runner()
      .add(Stage("legs", Nil, { _ =>
        val legs = Overlap.par(spark.range(10).count(), spark.range(5).count())
        synchronized { counts = legs }
        Seq(1).toDF("v")
      }))
      .run()
    assert(r("legs") == Completed())
    assert(counts == ((10L, 5L)))
  }
}
