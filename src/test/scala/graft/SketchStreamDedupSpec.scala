package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventsStream

/** Error bounds for sketch aggregates and stream/batch parity for the
  * watermarked keyed dedup. */
class SketchStreamDedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("approx_count_distinct within 5% of exact; approx median near exact") {
    val li = graft.Tables.lineitem(spark, dir)
    val r = li.agg(
      approx_count_distinct(col("l_partkey")).as("approx"),
      countDistinct(col("l_partkey")).as("exact"),
      percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("am"),
      expr("percentile(l_quantity, 0.5)").as("em")).collect()(0)
    val (approx, exact) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05,
      s"HLL err ${math.abs(approx - exact) / exact}")
    assert(math.abs(r.getDouble(2) - r.getDouble(3)) <= 1.0)
  }

  test("streaming dedupByKey == batch dropDuplicates (AvailableNow)") {
    // duplicate the stream source file so every event arrives twice
    val d = java.nio.file.Paths.get(TestDirs.fresh("events_dup"))
    for (i <- 1 to 2)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
        d.resolve(s"part-$i.parquet"))
    val streamed = EventsStream.runAvailableNow(spark, d.toString,
      df => EventsStream.dedupByKey(df, Seq("event_id")),
      "dedup_stream", OutputMode.Append())
    val batch = EventsStream.withEventTime(
      spark.read.parquet(d.toString))
    val batchDeduped = EventsStream.dedupByKey(batch, Seq("event_id"))
    assert(streamed.count() == batchDeduped.count())
    assert(streamed.count() == 1000) // sf0.001 events, duplicates removed
  }
}
