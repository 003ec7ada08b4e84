package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.streaming.EventsStream

/** b7 real-stream equality at big SF (r17 verdict #6): StreamingSpec
  * proves `lateKeptRollup` (the relational model of Spark's watermark
  * drop contract, SPARK-40925 two-watermark split) equals a REAL
  * 5-micro-batch watermarked stream — but only at unit scale, and the
  * DuckDB gate checks only the batch-parity model. This pin runs the
  * SAME staged scenario on the full events corpus of a big SF dir:
  *
  *  - the corpus split into 4 files by `pmod(event_id, 4)`, staged with
  *    strictly increasing modTimes and lexicographic names so
  *    maxFilesPerTrigger=1 picks them up as 4 known-order micro-batches
  *    (event ids are uncorrelated with timestamps, so batches 1–3 carry
  *    rows hours older than the watermark — the drop path fires on real
  *    data, not a synthetic straggler);
  *  - a far-future sentinel 5th file pushes the final watermark past
  *    every real window so append mode emits the whole kept set;
  *  - the streaming output (sentinel rows excluded) is compared
  *    row-for-row — count AND sha256 over the sorted row strings —
  *    against the model on the SAME corpus.
  *
  * Writes a JSON artifact: counts, hashes, dropped-row evidence (the
  * scenario is only meaningful if the watermark actually dropped rows),
  * and the equality verdict. Exit 1 on any mismatch.
  *
  * Usage: tools/run-main.sh graft.tools.B7StreamEqPin [sfDir] [outJson]
  *   defaults: testdata/sf1, B7_STREAM_EQ_sf1.json
  */
object B7StreamEqPin {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("testdata/sf1")
    val outJson = if (args.length > 1) args(1) else "B7_STREAM_EQ_sf1.json"
    val spark = graft.core.GraftSession.get()

    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    // All three scratch dirs (source files, staging copy, checkpoint) are
    // deleted after spark.stop(): the staging side holds a full coalesced
    // copy of the corpus, so at the big SFs this tool targets a leaked run
    // would leave corpus-sized litter in /tmp (r18 advice).
    val src = graft.TestDirs.fresh("b7_sf_late")
    val stage = graft.TestDirs.fresh("b7_sf_stage")
    val ckpt = graft.TestDirs.fresh("b7_sf_ckpt")
    // cleanup is a finally (r19 advice: the success-path-only delete still
    // leaked the corpus-sized staging copy on any mid-run failure — the
    // exact litter the cleanup was added to prevent); the walk stream is
    // closed via Using (Files.walk holds directory handles open)
    def rmTree(dir: String): Unit = {
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(java.nio.file.Files.walk(root)) { s =>
          s.iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
    }
    val verdict = try {
    val base = System.currentTimeMillis() - 3600 * 1000L
    def placeFile(fromDir: String, name: String, mtime: Long): Unit = {
      val parts = new java.io.File(fromDir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      require(parts.length == 1, s"expected 1 part in $fromDir, got ${parts.length}")
      val dst = new java.io.File(src, name)
      java.nio.file.Files.copy(parts.head.toPath, dst.toPath)
      require(dst.setLastModified(mtime), s"setLastModified failed for $dst")
    }
    (0 until 4).foreach { b =>
      raw.filter(pmod(col("event_id"), lit(4)) === b).coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/b$b")
      placeFile(s"$stage/b$b", f"batch-$b%03d.parquet", base + b * 60000L)
    }
    // sentinel: one row 3650 days past the max event time, same physical
    // ts layout as the table (long nanos or timestamp[us])
    val tenYearsUs = 3650L * 24 * 3600 * 1000000L
    val sentinel = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.limit(1).withColumn("ts",
          lit(raw.agg(max(col("ts"))).head.getLong(0) + tenYearsUs * 1000L))
      case _ =>
        val maxUs = raw.agg(max(unix_micros(col("ts").cast("timestamp"))))
          .head.getLong(0)
        raw.limit(1).withColumn("ts",
          timestamp_micros(lit(maxUs + tenYearsUs)).cast(raw.schema("ts").dataType))
    }
    sentinel.withColumn("event_type", lit("sentinel")).coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/sent")
    placeFile(s"$stage/sent", "batch-999.parquet", base + 10 * 60000L)

    val t0 = System.nanoTime()
    val q = EventsStream.windowedRollup(
      EventsStream.withEventTime(
        spark.readStream.schema(spark.read.parquet(src).schema)
          .option("maxFilesPerTrigger", "1").parquet(src)),
      windowLen = "1 hour", watermark = "2 hours")
      .writeStream.format("memory").queryName("b7_sf_rollup")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val nBatches = q.recentProgress.length
    val streamSec = (System.nanoTime() - t0) / 1e9
    val streamed = spark.table("b7_sf_rollup")
      .filter(col("event_type") =!= "sentinel")

    val model = EventsStream.lateKeptRollup(
      EventsStream.withEventTime(graft.Tables.events(spark, sfDir)))
    val all = EventsStream.windowedRollup(
      EventsStream.withEventTime(graft.Tables.events(spark, sfDir)))

    def normHash(df: org.apache.spark.sql.DataFrame): (Long, String) = {
      val rows = df.collect().map(_.toString).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
    }
    val (nStream, hStream) = normHash(streamed)
    val (nModel, hModel) = normHash(model)
    val keptEvents = model.agg(sum(col("n_events"))).head.getLong(0)
    val allEvents = all.agg(sum(col("n_events"))).head.getLong(0)
    val dropped = allEvents - keptEvents
    val equal = nStream == nModel && hStream == hModel
    val verdict =
      if (!equal) "MISMATCH"
      else if (dropped <= 0) "VACUOUS" // watermark never fired — not evidence
      else if (nBatches < 5) "TOO_FEW_BATCHES"
      else "EQUAL"
    val json =
      s"""{"sf_dir":"$sfDir","verdict":"$verdict",""" +
        s""""stream_rows":$nStream,"model_rows":$nModel,""" +
        s""""stream_hash":"$hStream","model_hash":"$hModel",""" +
        s""""micro_batches":$nBatches,"stream_wall_sec":${"%.1f".format(streamSec)},""" +
        s""""events_kept":$keptEvents,"events_total":$allEvents,"events_dropped":$dropped}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
    spark.stop()
    verdict
    } finally Seq(src, stage, ckpt).foreach(rmTree)
    if (verdict != "EQUAL") sys.exit(1)
  }
}
