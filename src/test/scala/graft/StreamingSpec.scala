package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventsStream

/** Stream/batch parity with Trigger.AvailableNow over the real events
  * parquet — same transform, same result, exactly-once file-source
  * semantics standing in for the reference's daily re-extract. */
class StreamingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The file stream source wants a directory; the testdata table is a
    * single parquet file — stage a copy. */
  private lazy val streamDir: String = {
    val d = java.nio.file.Paths.get(TestDirs.fresh("events_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("part-0.parquet"))
    d.toString
  }

  private def norm(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("windowed rollup: AvailableNow stream == batch") {
    val streamed = EventsStream.runAvailableNow(spark, streamDir,
      EventsStream.windowedRollup(_), "win_rollup", OutputMode.Complete())
    val batch = EventsStream.windowedRollup(
      EventsStream.withEventTime(graft.Tables.events(spark, dir)))
    assert(norm(streamed) == norm(batch))
    assert(streamed.count() > 0)
  }

  test("session rollup: AvailableNow stream == batch") {
    val streamed = EventsStream.runAvailableNow(spark, streamDir,
      EventsStream.sessionRollup(_), "sess_rollup", OutputMode.Complete())
    val batch = EventsStream.sessionRollup(
      EventsStream.withEventTime(graft.Tables.events(spark, dir)))
    assert(norm(streamed) == norm(batch))
  }

  test("stream-stream interval join: AvailableNow stream == batch") {
    // multiple files -> several micro-batches, so purchases and views
    // genuinely meet across batch boundaries through the join state;
    // the effectively-infinite watermark guarantees no state eviction
    // on the unordered file input (exact parity is the claim here —
    // bounded-state eviction semantics are Spark's own contract)
    val src = TestDirs.fresh("ev_ssj")
    graft.Tables.events(spark, dir).repartition(9)
      .write.mode("overwrite").parquet(src)
    val q = EventsStream.attributionJoin(
      EventsStream.readEvents(spark, src),
      lookback = "1 hour", watermark = "3650 days")
      .writeStream.format("memory").queryName("ssj")
      .option("checkpointLocation",
        TestDirs.fresh("ckpt_ssj"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length > 1, "expected multiple micro-batches")
    val got = norm(spark.table("ssj"))
    val want = norm(EventsStream.attributionJoin(
      EventsStream.withEventTime(graft.Tables.events(spark, dir)),
      lookback = "1 hour"))
    assert(got.nonEmpty && got == want,
      s"|stream|=${got.size} |batch|=${want.size}")
  }

  test("event-time ingestion is type-adaptive across ts physical layouts") {
    // The driver has shipped events.ts as nanosecond-epoch BIGINT (read
    // as long under nanosAsLong) AND as a real timestamp[us] (read as
    // TIMESTAMP_NTZ). An environment regenerating the table must never
    // zero the event-time surface again: the same fixture written in
    // all three layouts must produce IDENTICAL event_time, batch and
    // stream alike.
    import spark.implicits._
    val micros = Seq(1700000000000000L, 1700000000123456L, 1700003600999999L)
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }.toDF("event_id", "us")
    val root = TestDirs.fresh("ts_layouts")
    val layouts = Map(
      // nanos exceed 2^53: exact long arithmetic, never a double route
      "nanos" -> base.select($"event_id", ($"us" * 1000L).as("ts")),
      "ts"    -> base.select($"event_id", timestamp_micros($"us").as("ts")),
      "ntz"   -> base.select($"event_id",
        timestamp_micros($"us").cast("timestamp_ntz").as("ts")))
    val batchResults = layouts.map { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$root/$name")
      val onDisk = spark.read.parquet(s"$root/$name")
      val got = EventsStream.withEventTime(onDisk)
        .select($"event_id", unix_micros($"event_time").as("us"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      name -> got
    }
    val want = micros.zipWithIndex.map { case (us, i) => i.toLong -> us }.toMap
    batchResults.foreach { case (name, got) =>
      assert(got == want, s"layout $name: batch event_time diverged")
    }
    // the stream path infers its schema from the footers — same contract
    layouts.keys.foreach { name =>
      val streamed = EventsStream.runAvailableNow(spark, s"$root/$name",
        _.select($"event_id", unix_micros($"event_time").as("us")),
        s"ts_layout_$name", OutputMode.Append())
      val got = streamed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"layout $name: streamed event_time diverged")
    }
    // and an unsupported layout fails loudly, not with a binary-op error
    val bad = base.select($"event_id", $"us".cast("string").as("ts"))
    val e = intercept[IllegalArgumentException] { EventsStream.withEventTime(bad) }
    assert(e.getMessage.contains("events.ts"))
  }

  test("b7 late data: watermark-dropped rows match the batch-parity model") {
    // Stage events as 4 files picked up in a KNOWN order (batch b =
    // event_id mod 4; modTimes strictly increasing, names lexicographic,
    // maxFilesPerTrigger=1 -> one micro-batch per file), plus a far-
    // future sentinel 5th file whose only job is to push the final
    // watermark past every real window so append mode emits the whole
    // kept set. Because event ids are uncorrelated with timestamps,
    // batches 1-3 carry rows hours older than the watermark — the drop
    // path fires on real data. The claim: the streaming output equals
    // EventsStream.lateKeptRollup's relational model of Spark's
    // watermark contract (initial watermark 0; watermark before batch b
    // = max event time of batches < b minus the delay, ms precision;
    // drop iff the row's window end <= that watermark).
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val src = TestDirs.fresh("ev_late")
    val stage = TestDirs.fresh("ev_late_stage")
    val base = System.currentTimeMillis() - 3600 * 1000L
    def placeFile(fromDir: String, name: String, mtime: Long): Unit = {
      val part = new java.io.File(fromDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(src, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(mtime))
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

    val streamed = {
      val q = EventsStream.windowedRollup(
        EventsStream.withEventTime(
          spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1").parquet(src)),
        windowLen = "1 hour", watermark = "2 hours")
        .writeStream.format("memory").queryName("late_rollup")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation",
          TestDirs.fresh("ckpt_late"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(q.recentProgress.length >= 5,
        s"expected >=5 micro-batches, got ${q.recentProgress.length}")
      spark.table("late_rollup").filter(col("event_type") =!= "sentinel")
    }
    val model = EventsStream.lateKeptRollup(
      EventsStream.withEventTime(graft.Tables.events(spark, dir)))
    val all = EventsStream.windowedRollup(
      EventsStream.withEventTime(graft.Tables.events(spark, dir)))
    assert(norm(streamed) == norm(model),
      s"|stream|=${streamed.count()} |model|=${model.count()}")
    // the gate is only meaningful if the watermark actually dropped rows
    assert(model.agg(sum(col("n_events"))).head.getLong(0) <
      all.agg(sum(col("n_events"))).head.getLong(0),
      "late-data scenario dropped nothing — watermark never fired")
    assert(streamed.count() > 0)
  }

  test("mapGroupsWithState running totals match a plain aggregate") {
    import spark.implicits._
    val typed = EventsStream.withEventTime(graft.Tables.events(spark, dir))
      .select(col("user_id"), col("event_time"), col("value"))
      .as[EventsStream.UserEvent]
    val got = EventsStream.userRunningTotals(typed).collect()
      .map(s => s.user_id -> ((s.n_events, s.total_value, s.max_value))).toMap
    val want = graft.Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("t"),
        max(col("value")).as("m"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got == want)
  }

  test("upsert snapshot sink: multi-batch stream == latest-per-key batch") {
    // stage events as MULTIPLE files so maxFilesPerTrigger=4 yields
    // several micro-batches (batch-boundary independence is the claim)
    val src = TestDirs.fresh("events_many")
    graft.Tables.events(spark, dir).repartition(9)
      .write.mode("overwrite").parquet(src)
    val snapDir = TestDirs.fresh("snap") + "/current"
    val ckpt = TestDirs.fresh("ckpt")
    val q = EventsStream.upsertSnapshotSink(
      EventsStream.readEvents(spark, src),
      keyCols = Seq("user_id"), versionCol = "event_id",
      snapshotDir = snapDir, checkpointDir = ckpt)
    q.awaitTermination()
    assert(q.recentProgress.length > 1, "expected multiple micro-batches")
    val snapshot = spark.read.parquet(snapDir)
      .select("user_id", "event_id", "event_type")
    val batch = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      EventsStream.withEventTime(graft.Tables.events(spark, dir))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)))
        .filter(col("__rn") === 1)
        .select("user_id", "event_id", "event_type")
    }
    assert(norm(snapshot) == norm(batch))
    assert(snapshot.count() > 0)
  }

  test("equal-version duplicates converge to the max-content-hash row, every run") {
    import spark.implicits._
    // two rows, SAME key + SAME version, different payloads, in ONE
    // micro-batch — without the tie-break the winner is partition-order
    // dependent. The contract: max xxhash64 over the row wins, stably.
    val rows = Seq((1L, 10L, "payload_a"), (1L, 10L, "payload_b"),
      (2L, 5L, "only"))
    val expected = {
      val hs = rows.toDF("user_id", "event_id", "event_type")
        .withColumn("__h", graft.sources.JdbcUpsert.contentHash(
          rows.toDF("user_id", "event_id", "event_type").schema,
          Seq("user_id", "event_id", "event_type")))
        .filter($"user_id" === 1L)
        .collect().map(r => (r.getString(2), r.getLong(3))).toMap
      if (hs("payload_a") > hs("payload_b")) "payload_a" else "payload_b"
    }
    val winners = (1 to 3).map { i =>
      val src = TestDirs.fresh(s"tie_src$i")
      // shuffle the physical row order per run: the winner must not care
      rows.toDF("user_id", "event_id", "event_type")
        .repartition(i).write.mode("overwrite").parquet(src)
      val snapDir = TestDirs.fresh(s"tie_snap$i") + "/cur"
      val ckpt = TestDirs.fresh(s"tie_ckpt$i")
      val q = EventsStream.upsertSnapshotSink(
        spark.readStream.schema(rows.toDF("user_id", "event_id", "event_type").schema)
          .parquet(src),
        keyCols = Seq("user_id"), versionCol = "event_id",
        snapshotDir = snapDir, checkpointDir = ckpt)
      q.awaitTermination()
      val snap = spark.read.parquet(snapDir)
      assert(snap.count() == 2, "one row per key")
      snap.filter($"user_id" === 1L).select("event_type").collect()(0).getString(0)
    }
    assert(winners.forall(_ == expected),
      s"expected stable winner $expected, got $winners")
  }

  test("mergeByKey: equal key+version delta ties resolve deterministically") {
    import spark.implicits._
    val existing = Seq((1L, 1L, "old")).toDF("id", "ver", "v")
    val delta = Seq((1L, 9L, "a"), (1L, 9L, "b")).toDF("id", "ver", "v")
    val first = graft.sources.JdbcUpsert
      .mergeByKey(existing, delta, Seq("id"), "ver")
      .collect()(0).getString(2)
    // repartitioned delta (different physical order) must pick the same row
    (2 to 4).foreach { n =>
      val got = graft.sources.JdbcUpsert
        .mergeByKey(existing, delta.repartition(n), Seq("id"), "ver")
        .collect()(0).getString(2)
      assert(got == first, s"tie winner moved with partitioning: $got vs $first")
    }
  }

  test("contentHash covers map columns via to_json instead of failing the sink") {
    import spark.implicits._
    val df = Seq((1L, 2L, Map("k" -> "v")), (1L, 2L, Map("k2" -> "v2")))
      .toDF("id", "ver", "attrs")
    // xxhash64 over a MapType throws; contentHash must not
    val h = graft.sources.JdbcUpsert.contentHash(df.schema, df.columns.toSeq)
    val hs = df.select(h).collect().map(_.getLong(0))
    // rows that differ ONLY in the map column must be distinguishable:
    // the json fallback makes the tie-break cover the full row
    assert(hs(0) != hs(1))
    // and identical rows still hash identically (stable winner contract)
    val again = df.select(h).collect().map(_.getLong(0))
    assert(hs.toSeq == again.toSeq)
    // and the dedup window over a map-bearing frame executes cleanly
    val merged = graft.sources.JdbcUpsert.mergeByKey(
      df.limit(1), df, Seq("id"), "ver")
    assert(merged.count() == 1)
  }

  test("snapshot swap: rename-aside recovery covers every crash window") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val root = TestDirs.fresh("swap")
    val snap = new Path(root + "/current")
    val old = new Path(root + "/current__old")
    def mk(p: Path, tag: String): Unit = {
      fs.mkdirs(p); val o = fs.create(new Path(p, "part")); o.writeUTF(tag); o.close()
    }
    def tag(p: Path): String = {
      val i = fs.open(new Path(p, "part")); val t = i.readUTF(); i.close(); t
    }
    // crash BETWEEN snap->old and tmp->snap: only __old exists — the
    // live snapshot must come back
    mk(old, "v1")
    graft.sources.Writers.recoverSnapshot(fs, snap)
    assert(fs.exists(snap) && !fs.exists(old) && tag(snap) == "v1")
    // crash AFTER tmp->snap but before delete(__old): new snapshot wins,
    // stale __old is garbage-collected
    mk(old, "v1-stale")
    graft.sources.Writers.recoverSnapshot(fs, snap)
    assert(tag(snap) == "v1" && !fs.exists(old))
    // steady state: no-op
    graft.sources.Writers.recoverSnapshot(fs, snap)
    assert(tag(snap) == "v1")
  }

  test("incremental dedup: AvailableNow delta stream against a sig store == batch roster") {
    // The nightly-crawl shape as a stream: the delta arrives as files,
    // each micro-batch dedups against the PERSISTED signature store via
    // foreachBatch. Roster rows are per-delta-doc (best match over the
    // whole store), so batching the delta must not change the union of
    // outputs — pinned here against the one-shot batch roster.
    val d = "/root/testdata/sf0.001"
    val left = graft.Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val delta = graft.queries.TextQueries.perturbedDocs(spark, d)
    val storeDir = TestDirs.fresh("sigstore_s")
    graft.operators.Dedup.signatureStore(left, "doc_id", "text")
      .write.mode("overwrite").parquet(storeDir)
    val deltaDir = TestDirs.fresh("delta_s")
    delta.repartition(5).write.mode("overwrite").parquet(deltaDir) // >1 micro-batch
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = spark.readStream
      .schema(spark.read.parquet(deltaDir).schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(deltaDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= graft.operators.Dedup.incrementalDedupRoster(
            batch, spark.read.parquet(storeDir), "doc_id", "text",
            threshold = 0.6)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        ()
      }
      .option("checkpointLocation",
        TestDirs.fresh("ckpt_inc_dedup"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batchRoster = graft.operators.Dedup.incrementalDedupRoster(
        delta, spark.read.parquet(storeDir), "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    assert(got.sorted.toSeq == batchRoster.sorted.toSeq)
  }

  test("snapshot sink fails loudly when checkpoint outruns a deleted snapshot") {
    // checkpoint says batch 0 committed; snapshot vanished out-of-band ->
    // the next batch must refuse to rebuild state from one micro-batch
    val src = TestDirs.fresh("events_inc")
    graft.Tables.events(spark, dir).limit(100).write.mode("overwrite")
      .parquet(src + "/f1")
    val snapDir = TestDirs.fresh("snap2") + "/current"
    val ckpt = TestDirs.fresh("ckpt2")
    def run() = {
      val q = EventsStream.upsertSnapshotSink(
        spark.readStream.schema(graft.Tables.events(spark, dir).schema)
          .option("recursiveFileLookup", "true").parquet(src),
        keyCols = Seq("user_id"), versionCol = "event_id",
        snapshotDir = snapDir, checkpointDir = ckpt)
      q.awaitTermination()
    }
    run()
    assert(spark.read.parquet(snapDir).count() > 0)
    // delete the snapshot out-of-band, add new data, restart (batchId=1)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(snapDir), true)
    graft.Tables.events(spark, dir).limit(50).write.mode("overwrite")
      .parquet(src + "/f2")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { run() }
    assert(e.getMessage.contains("refusing") ||
      Option(e.getCause).exists(_.getMessage.contains("refusing")), e.getMessage)
  }
}
