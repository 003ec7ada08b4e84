package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}
import graft.sources.{JdbcUpsert, Readers, Writers}

/** Structured Streaming over the events table — the streaming story the
  * reference lacks (SURVEY §2.8: its "incremental mode" is a daily
  * micro-batch re-extract). Spark-first shapes:
  *
  *  - file source `readStream` with `Trigger.AvailableNow` reproduces the
  *    reference's catch-up-then-stop batch cadence with exactly-once sink
  *    semantics and no hand-rolled date bookkeeping;
  *  - watermark + tumbling `window()` aggregation for late-data-tolerant
  *    rollups;
  *  - built-in `session_window` for gap-based sessionization;
  *  - `mapGroupsWithState` for custom keyed state (running per-user
  *    aggregates) where the built-ins genuinely can't express it.
  *
  * Every transform here is also applicable to a batch DataFrame — the
  * batch/stream parity is what the spec asserts (same query, same result,
  * AvailableNow vs batch read).
  */
object EventsStream {

  /** TYPE-ADAPTIVE event-time conversion for the stored `ts` column.
    * The events table has shipped with two physical layouts:
    *
    *  - nanosecond-epoch `timestamp[ns]`, surfaced as BIGINT under
    *    `spark.sql.legacy.parquet.nanosAsLong` (the historical layout);
    *  - a real `timestamp[us]`, surfaced as TIMESTAMP_NTZ (the legacy
    *    flag does not apply to micros) or TIMESTAMP.
    *
    * Dispatching on the INPUT dataType (not a config) means the same
    * query runs against either layout — a pipeline must not break when
    * an upstream producer upgrades its writer. Both branches land on
    * TimestampType in the UTC session (NTZ wall-time == instant there),
    * so every downstream window/watermark/unix_micros is layout-blind.
    *
    * Long branch uses integer `div`, NOT `/`: epoch-nanos exceed 2^53,
    * so a double-routed division is off by ±1 µs. */
  def eventTimeCol(ts: Column, dt: DataType): Column = dt match {
    case LongType         => timestamp_micros(call_function("div", ts, lit(1000L)))
    case TimestampType    => ts
    case TimestampNTZType => ts.cast(TimestampType)
    case other => throw new IllegalArgumentException(
      s"events.ts: expected BIGINT (epoch nanos), TIMESTAMP or " +
        s"TIMESTAMP_NTZ, got $other")
  }

  def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("event_time",
      eventTimeCol(col("ts"), df.schema("ts").dataType))

  /** File-source stream over a parquet directory of events. The schema
    * comes from the directory's own parquet footers (one driver-side
    * metadata read), so the stream adapts to whichever `ts` layout is on
    * disk instead of pinning one in a DDL literal. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    withEventTime(
      spark.readStream.schema(Readers.parquet(spark, dir).schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(dir))

  /** Watermarked tumbling-window rollup: (window, event_type) → count,
    * sum(value). Works identically on batch and stream inputs. */
  def windowedRollup(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("event_time", watermark)
              else events
    src.groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"),
        col("total_value").cast("double").as("total_value"))
  }

  /** Stream-stream interval self-join (purchase→view attribution): pair
    * each purchase with every view by the same user within `lookback`
    * before it (inclusive both ends). Works identically on batch and
    * stream inputs. In streaming mode both legs carry a watermark and
    * the join condition is a BOUNDED time interval — together these let
    * Spark evict join state (each side keeps ≈ lookback + watermark of
    * history per key), which is what makes a stream-stream join viable
    * on unbounded input; an unconstrained stream join would accumulate
    * state forever. Caveat inherent to watermarks: events arriving later
    * than `watermark` out of order are dropped from the join state, so
    * exact batch parity needs a watermark larger than the input's
    * disorder (the parity spec uses an effectively-infinite one).
    * Output: (user_id, purchase_id, view_id, gap_us). */
  def attributionJoin(events: DataFrame, lookback: String = "1 hour",
                      watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("event_time", watermark)
              else events
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("event_time").as("p_time"))
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
        col("event_time").as("v_time"))
    purchases.join(views,
        col("user_id") === col("v_user_id") &&
          col("v_time") <= col("p_time") &&
          col("v_time") >= col("p_time") - expr(s"INTERVAL $lookback"))
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        (unix_micros(col("p_time")) - unix_micros(col("v_time"))).as("gap_us"))
  }

  /** Gap-based sessionization with the built-in session_window. */
  def sessionRollup(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("event_time", watermark)
              else events
    src.groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"))
      .select(
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("user_id"), col("n_events"),
        col("total_value").cast("double").as("total_value"))
  }

  /** Streaming keyed dedup — the Structured-Streaming replacement for the
    * reference's keyed upsert (SURVEY §2.8: `dropDuplicates` by key with
    * a watermark bounds state; an exactly-once sink then makes re-runs
    * idempotent without INSERT..ON CONFLICT). Keeps the FIRST arrival per
    * (key, event_time window); works identically on batch frames. */
  def dedupByKey(events: DataFrame, keyCols: Seq[String],
                 watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("event_time", watermark)
              else events
    src.dropDuplicates(keyCols :+ "event_time")
  }

  // ---- custom keyed state (mapGroupsWithState) ---------------------------

  case class UserEvent(user_id: Long, event_time: java.sql.Timestamp, value: Double)
  /** State totals in integer cents — order-independent accumulation (a
    * double running sum would depend on row arrival order). */
  case class UserState(n: Long, totalCents: Long, maxValue: Double)
  case class UserSummary(user_id: Long, n_events: Long, total_value: Double, max_value: Double)

  /** Running per-user totals via explicit keyed state — the
    * `mapGroupsWithState` shape for semantics the built-in aggregates
    * can't express (here deliberately simple so batch parity is
    * checkable). */
  def userRunningTotals(events: Dataset[UserEvent]): Dataset[UserSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserSummary](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L, Double.MinValue))
          val next = rows.foldLeft(prev) { (s, e) =>
            UserState(s.n + 1, s.totalCents + math.round(e.value * 100),
              math.max(s.maxValue, e.value))
          }
          state.update(next)
          UserSummary(uid, next.n, next.totalCents / 100.0, next.maxValue)
      }
  }

  /** Incremental keyed-snapshot maintenance from a stream — the
    * streaming form of the reference's milestones upsert (pangres
    * `if_row_exists='update'`): each micro-batch folds into the parquet
    * snapshot at `snapshotDir` via [[JdbcUpsert.mergeByKey]], keeping
    * the newest row per key, and is written back through the engine's
    * one snapshot swap, [[Writers.parquetReplace]] (whose scaladoc covers
    * its crash windows; [[Readers.snapshot]] recovers an interrupted swap
    * at the top of every batch). Result is batch-boundary independent
    * when `versionCol` is unique per key (latest-wins is associative), so
    * rate limits and restarts can't change the snapshot — StreamingSpec
    * asserts multi-batch == single-batch == batch parity.
    *
    * A missing snapshot with `batchId > 0` (checkpoint says prior batches
    * committed) fails loudly rather than silently rebuilding state from
    * one micro-batch. */
  def upsertSnapshotSink(stream: DataFrame, keyCols: Seq[String],
                         versionCol: String, snapshotDir: String,
                         checkpointDir: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val existing = Readers.snapshot(batch.sparkSession, snapshotDir)
        if (batchId > 0 && existing.isEmpty)
          sys.error(s"upsertSnapshotSink: checkpoint is at batch $batchId but " +
            s"snapshot $snapshotDir is missing (and no __old to recover) — refusing to " +
            "silently rebuild state from a single micro-batch")
        Writers.parquetReplace(JdbcUpsert.mergeByKey(
          existing.getOrElse(batch.limit(0)), batch, keyCols, versionCol), snapshotDir)
      }
      .start()

  /** Stream micro-batches into a keyed JDBC upsert through the
    * [[JdbcUpsert.Dialect]] seam — the streaming form of the reference's
    * milestones upsert (pangres `if_row_exists='update'`, reference
    * `load.py:94-118`), replacing its daily re-extract cadence with
    * continuous catch-up.
    *
    * Each micro-batch is deduped to one row per key by
    * [[JdbcUpsert.mergeByKey]] against an empty snapshot (newest
    * `versionCol` wins, equal-version duplicates resolve by content
    * hash) before the batched single-statement upsert executes — the
    * per-batch distinct-key requirement [[JdbcUpsert.upsert]] shares with
    * pangres. The upsert runs VERSION-GUARDED (update arm fires only for
    * strictly newer versions), so the table converges to the newest
    * version per key under any micro-batch arrival order — file streams
    * are not version-monotone — and foreachBatch's at-least-once retries
    * are idempotent (equal version → no-op). Scope: the content-hash
    * tie-break is deterministic WITHIN a batch; equal-version rows split
    * ACROSS micro-batches still resolve first-arrival, because the
    * strictly-newer guard makes the later batch's row a no-op. */
  def jdbcUpsertSink(stream: DataFrame, keyCols: Seq[String],
                     versionCol: String, url: String, table: String,
                     props: java.util.Properties, checkpointDir: String,
                     dialect: JdbcUpsert.Dialect = JdbcUpsert.Postgres,
                     connections: Int = 8,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        JdbcUpsert.upsert(JdbcUpsert.mergeByKey(batch.limit(0), batch, keyCols, versionCol),
          url, table, props, keyCols, connections = connections, dialect = dialect,
          versionCol = Some(versionCol))
      }
      .start()

  /** Batch-parity model of WATERMARK-DROPPED LATE DATA (the b7 gate):
    * predicts exactly which rows a watermarked streaming
    * [[windowedRollup]] keeps when the input arrives as an ordered
    * sequence of micro-batches. Spark's contract, reproduced here in
    * plain relational algebra so a DuckDB oracle can check it:
    *
    *  - Spark keeps TWO watermark values per batch (the SPARK-40925
    *    split): state EVICTION/emission uses the current watermark
    *    (`max(event_time over batches 0..b-1) - delay`), but LATE-EVENT
    *    FILTERING uses the previous batch's — `max(event_time over
    *    batches 0..b-2) - delay`, millisecond precision, initially epoch
    *    0 (measured by tools/LateDataProbe, deleted after 17eacc8:
    *    batch 1 drops nothing even
    *    though its reported watermark already trails batch 0's max);
    *  - an input row is DROPPED iff its tumbling window's end is at or
    *    below that LATE-EVENTS watermark. Every admitted row's window is
    *    provably still un-evicted (evictions so far used exactly that
    *    lagged value), so admission alone decides the final output once
    *    the closing watermark passes every real window.
    *
    * Batch membership is `pmod(event_id, batches)` — deterministic, and
    * because event ids are uncorrelated with timestamps each later batch
    * genuinely contains rows far older than the watermark, so the drop
    * path is exercised on real data, not a synthetic straggler. The
    * rollup over the kept set is what the streaming run emits once a
    * max-timestamp sentinel pushes the final watermark past every real
    * window (StreamingSpec stages exactly that and asserts equality).
    *
    * Scale shape: the per-batch maxima aggregate is `batches` rows —
    * the running-max window function runs over O(batches), never the
    * events themselves — broadcast-joined back; everything else is one
    * map-side-combinable aggregation. */
  def lateKeptRollup(events: DataFrame, batches: Int = 4,
                     windowLenSec: Long = 3600L,
                     delaySec: Long = 7200L): DataFrame = {
    require(batches > 0, s"batches must be positive, got $batches")
    val ev = events.withColumn("__b", pmod(col("event_id"), lit(batches)))
      .withColumn("__us", unix_micros(col("event_time")))
    // window length / delay as exact integer micros / millis (interval
    // arithmetic kept integral — epoch micros exceed 2^53)
    val lenUs = lit(windowLenSec * 1000000L)
    val delayMs = lit(delaySec * 1000L)
    val withWin = ev.withColumn("__win_end_us",
      (call_function("div", col("__us"), lenUs) + lit(1L)) * lenUs)
    // per-batch event-time maxima: `batches` rows, so the running max
    // window is O(batches); the join back is a broadcast
    // -2, not -1: the late-events watermark lags one batch behind the
    // eviction watermark (see scaladoc), so batch b filters with the
    // maxima of batches 0..b-2
    val offW = org.apache.spark.sql.expressions.Window.orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -2)
    val wm = withWin.groupBy(col("__b"))
      .agg(max(col("__us")).as("__bmax_us"))
      .withColumn("__wm_ms",
        greatest(coalesce(call_function("div", max(col("__bmax_us")).over(offW),
          lit(1000L)) - delayMs, lit(0L)), lit(0L)))
      .select(col("__b"), col("__wm_ms"))
    withWin.join(broadcast(wm), Seq("__b"))
      .filter(call_function("div", col("__win_end_us"), lit(1000L)) > col("__wm_ms"))
      .groupBy(col("__win_end_us"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"))
      .select((col("__win_end_us") - lenUs).as("window_start_us"),
        col("event_type"), col("n_events"),
        col("total_value").cast("double").as("total_value"))
  }

  /** Run a streaming transform over `dir` with Trigger.AvailableNow into
    * an in-memory table; returns the final result. Used by specs to
    * assert stream/batch parity. */
  def runAvailableNow(spark: SparkSession, dir: String,
                      transform: DataFrame => DataFrame,
                      queryName: String,
                      outputMode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = transform(readEvents(spark, dir)).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }
}
