package graft

import org.apache.spark.sql.functions._
import graft.core.Fanout

/** r20 optimization-round spec: [[Fanout.spread]] fans CPU-dense narrow
  * stages out ONLY when the planned scan parallelism is below the core
  * count, and never changes results. */
class FanoutSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  // big enough (584 KB documents) that the bytes-derived fan-out width
  // exceeds both the 1-split scan and 64 KB/task; sf0.001's 64 KB file
  // is below SpreadBytesPerTask and deliberately does NOT fan out
  private val dBig = "/root/testdata/sf0.1"

  test("spread fans a narrow file scan out (bytes-derived width)") {
    val docs = graft.Tables.documents(spark, dBig)
    assert(Fanout.plannedScanTasks(docs).exists(_ < spark.sparkContext.defaultParallelism))
    val p = Fanout.spread(docs, col("doc_id")).queryExecution.executedPlan.toString
    assert(p.contains("REPARTITION_BY_NUM"),
      s"narrow scan should gain the fan-out exchange:\n$p")
    // explicit partition count: AQE must never coalesce the fan-out away
    assert(p.contains(s"hashpartitioning(doc_id#"), p)
  }

  test("spread is a no-op below one task's worth of input bytes") {
    val docs = graft.Tables.documents(spark, d) // 64 KB file
    val p = Fanout.spread(docs, col("doc_id")).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"sub-64KB input should not pay a fan-out exchange:\n$p")
  }

  test("spread is a no-op when the scan already plans >= cores splits") {
    withAtScaleScans {
      val docs = graft.Tables.documents(spark, dBig)
      assert(Fanout.plannedScanTasks(docs).exists(_ >= spark.sparkContext.defaultParallelism))
      val p = Fanout.spread(docs, col("doc_id")).queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"wide scan must keep its shape:\n$p")
    }
  }

  test("spread is a no-op on driver-local literal frames") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "t")
    assert(Fanout.plannedScanTasks(df).isEmpty)
    val p = Fanout.spread(df, col("id")).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("spread counts checkpointed-RDD leaves by their real partitioning") {
    val ck = graft.Tables.documents(spark, dBig)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .localCheckpoint()
    assert(Fanout.plannedScanTasks(ck)
      .exists(_ >= spark.sparkContext.defaultParallelism))
    val p = Fanout.spread(ck, col("doc_id")).queryExecution.executedPlan.toString
    assert(!p.contains("REPARTITION_BY_NUM"),
      s"already-wide checkpoint must not re-shuffle:\n$p")
  }

  test("checkpoint width derives from plan-time stats, not 128MB/partition") {
    // r20 advice (medium): a tiny few-partition localCheckpoint used to
    // be estimated at partitions × maxPartitionBytes, so spread() fanned
    // it to the full core count — reinstating the fixed-per-task-cost
    // regression the bytes-derived width guard exists to avoid. The
    // byte estimate now comes from the leaf's origin statistics: a
    // checkpoint of a 64 KB scan stays un-fanned however few partitions
    // it has.
    val tiny = graft.Tables.documents(spark, d) // 64 KB file
      .repartition(2, col("doc_id"))
      .localCheckpoint()
    assert(Fanout.plannedScanTasks(tiny).contains(2L))
    val p = Fanout.spread(tiny, col("doc_id")).queryExecution.executedPlan.toString
    assert(!p.contains("REPARTITION_BY_NUM"),
      s"tiny checkpoint must not fan to the core count:\n$p")
  }

  test("an RDD leaf with unknown stats fans out from the per-partition fallback") {
    // a 1-partition createDataFrame(rdd, schema) leaf carries the
    // conf-default "unknown" size, so its bytes come from
    // RddFallbackBytesPerPartition (8 task-worths), which must not read 0
    assert(Fanout.RddFallbackBytesPerPartition == 8 * Fanout.SpreadBytesPerTask)
    val rdd = spark.sparkContext.parallelize(
      (0L until 64L).map(i => org.apache.spark.sql.Row(i, s"t$i")), numSlices = 1)
    val schema = Seq((1L, "a")).toDF("id", "t").schema
    val df = spark.createDataFrame(rdd, schema)
    assert(df.queryExecution.analyzed.stats.sizeInBytes ==
      BigInt(spark.sessionState.conf.defaultSizeInBytes))
    assert(Fanout.plannedScanTasks(df).contains(1L))
    val p = Fanout.spread(df, col("id")).queryExecution.executedPlan.toString
    assert(p.contains("REPARTITION_BY_NUM"),
      s"unknown-stats RDD leaf should gain the fan-out exchange:\n$p")
  }

  test("spread is a no-op on plans already carrying an explicit-width repartition") {
    // r20 advice (low): a query-level spread followed by an operator-level
    // one stacked two consecutive same-key exchanges (a Project between
    // them defeats CollapseRepartition)
    val docs = graft.Tables.documents(spark, dBig)
    val once = Fanout.spread(docs, col("doc_id"))
      .select(col("doc_id"), upper(col("text")).as("text"))
    val twice = Fanout.spread(once, col("doc_id"))
    val n = "REPARTITION_BY_NUM".r
      .findAllIn(twice.queryExecution.executedPlan.toString).length
    assert(n == 1, s"expected exactly one fan-out exchange, got $n")
  }

  test("spread ignores explicit repartitions on other keys or behind a join") {
    // only a same-key repartition that still shapes the frame's rows
    // (reached through narrow nodes) means the frame is already spread
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    def spreadsOn(df: org.apache.spark.sql.DataFrame, key: String): Boolean =
      Fanout.spread(df, col(key)).queryExecution.analyzed match {
        case r: RepartitionByExpression => r.partitionExpressions.toString.contains(key)
        case _ => false
      }
    val docs = graft.Tables.documents(spark, dBig)
    val otherKey = docs.repartition(2, col("lang"))
      .select(col("doc_id"), upper(col("text")).as("text"))
    assert(spreadsOn(otherKey, "doc_id"),
      "a repartition on another key must not suppress the doc_id spread")
    val behindJoin = docs.repartition(2, col("doc_id"))
      .join(docs.select(col("doc_id"), col("lang").as("lang2")), "doc_id")
    assert(spreadsOn(behindJoin, "doc_id"),
      "a repartition below a join must not suppress the spread above it")
  }

  test("fan-out changes no results (minhash pairs bit-identical)") {
    val corpus = graft.queries.TextQueries.nearDupCorpus(spark, dBig)
    def pairs() = graft.operators.Dedup.minhashLshPairs(
      corpus, "doc_id", "text", n = 3, bands = 16, rowsPerBand = 8,
      threshold = 0.6).orderBy("id_a", "id_b").collect().toSeq
    val spreadRun = pairs() // narrow input: fan-out active
    val plainRun = withAtScaleScans { pairs() } // at-scale geometry: no fan-out
    assert(spreadRun == plainRun)
    assert(spreadRun.nonEmpty)
  }
}
