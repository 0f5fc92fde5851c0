package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.functions.ExactSums._

/** Structured Streaming pipelines over the events table.
  *
  * The batch operators in [[graft.ops.Events]] all have streaming twins:
  * the windowed aggregation below runs the SAME logical plan as the
  * batch `hourlyTypeCounts` through the micro-batch engine (file source
  * -> windowed agg -> sink), so the batch DuckDB oracle doubles as the
  * streaming oracle.
  *
  * Modes:
  *  - `hourlyTypeCountsStream` uses complete-mode + availableNow for a
  *    bounded, deterministic replay of the input (the verification path);
  *  - production unbounded use is append mode with a watermark
  *    (`withWatermarkedWindows`), where late events beyond the watermark
  *    are dropped and finalized windows emit exactly once;
  *  - `sessionizeStream` shows custom state: per-user gap sessionization
  *    with flatMapGroupsWithState and event-time timeout.
  */
object EventStream {

  private val nameCounter = new AtomicInteger(0)

  /** Run `body` (which starts and drains a streaming query) with a
    * replay-sized stateful-shuffle width. A streaming query captures
    * `spark.sql.shuffle.partitions` at START and keeps it for the
    * life of its checkpoint; the session default (32, sized for batch
    * scans) makes every micro-batch commit 32 state-store instances —
    * per-partition file I/O that dominates a bounded replay whose
    * whole state fits in a handful of stores. 8 is plenty for the
    * replay's state volume; a real unbounded deployment sizes this to
    * its own state, which is exactly why it must be pinned per QUERY,
    * not inherited from the batch default. Batch plans in the same
    * session are untouched (the conf is restored before they plan). */
  private def withReplayShufflePartitions[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // a BOUNDED complete-mode replay needs no trailing no-data
    // micro-batch (that batch exists to advance watermarks/timeouts on
    // a live stream); skipping it saves one full state-store
    // commit round per replay — output rows unchanged (complete mode
    // emits the whole result on the data batch; parity specs + oracle
    // pin it)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try body finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
  }

  /** Bounded streaming replay of the events parquet; returns the final
    * windowed-count table (same schema/rows as Events.hourlyTypeCounts). */
  def hourlyTypeCountsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = StreamScratch.schemaOf(spark, path)
    // the file source wants a directory: stream the sf dir but list only
    // the events file (the sibling tables have different schemas)
    val stream = graft.core.Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
    val agg = stream
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .select(
        unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_value"))
    val name = s"graft_stream_hourly_${nameCounter.incrementAndGet()}"
    withReplayShufflePartitions(spark) {
      val q = agg.writeStream
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", StreamScratch.dir(name))
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // memory-sink tables are DRIVER-RESIDENT LocalRelations that
    // parallelize to defaultParallelism slices when scanned — 32 tiny
    // tasks lock-contending over an aggregate-sized replay result (the
    // q195 signature; round 16 Profile). coalesce(1) keeps the bounded
    // replay read one task; downstream exchanges stay AQE-sized.
    spark.table(name).coalesce(1).orderBy("window_start_us", "event_type")
  }

  /** q70: bounded streaming replay of gap sessionization through the
    * NATIVE `session_window` operator — the engine-managed twin of the
    * hand-rolled `sessionizeStream` below (which demonstrates the
    * flatMapGroupsWithState escape hatch). Emits the same table as the
    * batch `Events.sessionize`, so the batch DuckDB oracle doubles as
    * the streaming one (the q26 pattern).
    *
    * Two semantic alignments make the replay bit-identical to batch:
    *  - the gap is 30 min + 1 µs: `session_window` merges an event
    *    into a session iff its gap is strictly LESS than the window
    *    gap, while the batch operator starts a new session only when
    *    the gap EXCEEDS 30 min — the 1 µs widening maps `< gap+1µs`
    *    onto `<= gap` exactly;
    *  - session bounds are aggregated as min/max of the member event
    *    times, not taken from the window struct (whose `end` is
    *    last-event + gap, not last-event).
    * session_id is assigned after the replay: sessions of a user have
    * strictly increasing start times, so the chronological row_number
    * equals the batch operator's running new-session count. */
  def sessionWindowStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val path = s"$sfDir/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = StreamScratch.schemaOf(spark, path)
    val stream = graft.core.Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
    val agg = stream
      .groupBy(col("user_id"),
        session_window(col("ts"), s"${30L * 60L * 1000000L + 1L} microseconds"))
      .agg(
        min(unix_micros(col("ts"))).as("session_start_us"),
        max(unix_micros(col("ts"))).as("session_end_us"),
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"), col("sum_value"))
    val name = s"graft_stream_sessions_${nameCounter.incrementAndGet()}"
    withReplayShufflePartitions(spark) {
      val q = agg.writeStream
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", StreamScratch.dir(name))
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // coalesce(1): see hourlyTypeCountsStream — one task scans the
    // driver-resident session table instead of 32 contending slices
    spark.table(name).coalesce(1)
      .withColumn("session_id",
        row_number().over(
          Window.partitionBy("user_id").orderBy("session_start_us")).cast("long"))
      .select(col("user_id"), col("session_id"), col("session_start_us"),
        col("session_end_us"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** q98: streaming volume-anomaly monitor — the deployment shape of
    * q90: per-type moments TRAIN OFFLINE (the 5-row batch aggregate,
    * frozen and broadcast, exactly like IvfStream's frozen centroids)
    * while the hourly count state accumulates in the stream; each
    * replayed window is scored against the frozen moments in the
    * post-replay projection. Because the moments derive from the same
    * bounded replay window, the result is bit-identical to the batch
    * q90 — so q90's DuckDB oracle doubles as this query's (the
    * q26/q70 pattern).
    *
    * Scale shape: the streaming side keeps |types|x|hours| count
    * state (bounded, watermark-evictable in the unbounded
    * deployment); scoring is a broadcast join — no state beyond the
    * windowed counts, no shuffle of scored rows except the top-k
    * window. */
  def anomalyWindowsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val path = s"$sfDir/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = StreamScratch.schemaOf(spark, path)
    val stream = graft.core.Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
    val agg = stream
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n"))
    val name = s"graft_stream_anomaly_${nameCounter.incrementAndGet()}"
    withReplayShufflePartitions(spark) {
      val q = agg.writeStream
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", StreamScratch.dir(name))
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // the memory-sink View resolves to the SAME attribute ids on both
    // sides of the moments self-join (INTERNAL_ERROR: conflicting
    // references) — checkpointing re-instances the plan as a fresh
    // LogicalRDD, and the replay output is tiny (|types|x|hours|).
    // coalesce(1) BEFORE the checkpoint (round 16): uncoalesced, the
    // LocalRelation parallelizes to defaultParallelism slices and the
    // checkpoint pins 32 tiny partitions that every downstream stage
    // then contends over (Profile: two 32-task stages, 6.9 task-s, for
    // a |types|x|hours| table)
    val hourly = graft.ops.Materialize.tracked(spark,
      spark.table(name).coalesce(1).localCheckpoint(true))
    val moments = broadcast(hourly.groupBy("event_type")
      .agg(count(lit(1)).as("h"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("q2")))
    val w = Window.partitionBy("event_type")
      .orderBy(abs(col("score")).desc, col("window_start_us").asc)
    hourly.join(moments, "event_type")
      .withColumn("score",
        expr("cast(n * h - s as double) / sqrt(cast(h * q2 - s * s as double))"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("event_type"), col("rank"), col("window_start_us"),
        col("n"), col("score"))
      .orderBy("event_type", "rank")
  }

  /** Unbounded-shape pipeline: watermarked tumbling windows in append
    * mode — what the same query looks like against a live source. */
  def withWatermarkedWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .select(
        unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup: watermark-bounded dropDuplicates on a
    * content key — the streaming twin of the batch exact-dedup operator
    * (training-data pipelines dedup the firehose before it lands).
    * State stores one key per distinct id inside the watermark horizon;
    * late duplicates beyond it are dropped by the watermark itself. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates("content_hash", "ts")

  /** Stream-stream interval join: each error event joins the click
    * events of the SAME user within the preceding 10 minutes — the
    * streaming twin of the batch as-of/interval pattern
    * (Events.clickErrorAsOf). Both sides carry watermarks and the join
    * condition bounds event time in BOTH directions, so Spark can
    * compute exactly how long to buffer each side's state and evict it
    * as the watermark advances — the requirements for a stream-stream
    * inner join to run unbounded. */
  def clickErrorJoinStream(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "30 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val e = errors.withWatermark("ts", "30 minutes")
      .select(col("user_id").as("e_user"), col("ts").as("error_ts"),
        col("event_id").as("error_id"))
    e.join(c,
      col("c_user") === col("e_user") &&
        col("click_ts") <= col("error_ts") &&
        col("click_ts") >= col("error_ts") - expr("INTERVAL 10 MINUTES"))
      .select(col("e_user").as("user_id"), col("error_id"), col("click_id"),
        col("error_ts"), col("click_ts"))
  }

  // -------------------------------------------------------------------
  // Stateful sessionization (flatMapGroupsWithState).
  // -------------------------------------------------------------------

  case class Ev(user_id: Long, ts_us: Long, value: Double)
  case class SessionState(startUs: Long, lastUs: Long, nEvents: Long, sumValueCents: Long)
  case class SessionOut(user_id: Long, session_start_us: Long, session_end_us: Long,
                        n_events: Long, sum_value: Double)

  val SessionGapUs: Long = 30L * 60L * 1000000L

  /** Emits a session row whenever a 30-min gap closes it; keeps the
    * open session as group state. Exact cents accumulation mirrors
    * ExactSums. Events within a micro-batch are sorted by time; across
    * batches the watermark guarantees ordering at the gap granularity. */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[Ev]):
      org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts_us))
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          sorted.foreach { e =>
            val cents = math.floor(e.value * 100.0).toLong
            cur match {
              case Some(s) if e.ts_us - s.lastUs <= SessionGapUs =>
                cur = Some(s.copy(lastUs = e.ts_us, nEvents = s.nEvents + 1,
                  sumValueCents = s.sumValueCents + cents))
              case Some(s) =>
                closed += SessionOut(user, s.startUs, s.lastUs, s.nEvents, s.sumValueCents / 100.0)
                cur = Some(SessionState(e.ts_us, e.ts_us, 1L, cents))
              case None =>
                cur = Some(SessionState(e.ts_us, e.ts_us, 1L, cents))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  /** q199: STREAMING A/B monitor — q197's readout running continuously
    * at the event firehose, the shape an experimentation platform's
    * live dashboard actually has. Each micro-batch folds its events to
    * per-user PARTIAL goal counts (one keyed agg per batch, batch-sized
    * state, nothing retained across batches) and appends them to a
    * batchId-keyed overwrite sink; goal counts are SUMS, so the serving
    * read's per-user re-fold over the unioned sink equals the
    * single-pass batch fold exactly — a user who crosses the conversion
    * threshold in batch 3 amends their batch-1 verdict retroactively
    * (the q181/q193 property), and q197's oracle serves both forms.
    * Mechanics ride the shared `StreamScratch.waveSink` harness. */
  def abMonitorStream(spark: SparkSession, sfDir: String,
                      streamSrc: Option[String] = None,
                      filesPerTrigger: Option[Int] = None): DataFrame = {
    // events.parquet may carry TIMESTAMP(NANOS) — same escape hatch as
    // Tables.events, needed before the stream's schema sniff
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val read = StreamScratch.waveSink(spark, "abmon", sfDir, streamSrc,
      filesPerTrigger, "events.parquet",
      batch => graft.ops.Events.abGoalCounts(
        graft.core.Tables.normalizeEventTs(batch)))
    val counts = read.getOrElse(
      spark.range(0).select(col("id").as("user_id"),
        col("id").as("goals"), col("id").as("cents")))
    graft.ops.Events.abReadoutFromCounts(counts)
  }

}
