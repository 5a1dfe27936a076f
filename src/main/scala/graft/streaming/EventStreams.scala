package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the event-pipeline operators.
  *
  * The reference's interactive before/after loop is a manually-triggered
  * micro-batch over mutable external state (SURVEY §2.9); its idiomatic
  * scale-out form is a continuous pipeline: `readStream` → watermarked
  * windowed aggregation / keyed session state → streaming sink. The column
  * logic matches the batch operators in
  * [[graft.operators.EventsQueries]], so the DuckDB-oracle-checked batch
  * results pin the streaming semantics too.
  */
object EventStreams {
  /** Watermarked tumbling-window counts — append-mode safe: windows close
    * 10 minutes after the max seen event time. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n_events"), col("total_value"))

  final case class Ev(user_id: Long, event_id: Long, ts_us: Long)
  final case class SessionizedEv(user_id: Long, event_id: Long, session_id: Long)
  final case class SessState(sessionSeq: Long, lastTsUs: Long)

  val SessionGapUs: Long = 30L * 60 * 1000000

  /** Keyed session assignment with explicit state — the streaming
    * equivalent of the batch lag/running-sum sessionizer. State per user is
    * O(1): (current session ordinal, last event time). */
  def sessionize(events: Dataset[Ev]): Dataset[SessionizedEv] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var st = state.getOption.getOrElse(SessState(0L, Long.MinValue))
          val out = sorted.map { e =>
            val isNew = st.sessionSeq == 0L || e.ts_us - st.lastTsUs > SessionGapUs
            st = SessState(if (isNew) st.sessionSeq + 1 else st.sessionSeq, e.ts_us)
            SessionizedEv(user, e.event_id, st.sessionSeq)
          }
          state.update(st)
          out.iterator
      }
  }

  final case class PEv(user_id: Long, event_type: String, ts_us: Long)
  final case class PatternState(tSignup: Long, tErr: Long, converted: Boolean)

  /** Streaming CEP twin of the batch `events_pattern_match` query: a
    * per-user state machine tracking "signup, then purchase with no error
    * between", emitting each user exactly once at their first clean
    * conversion. State is O(1) per user (two timestamps + a flag); with
    * event-time-ordered input the emissions equal the batch operator's
    * clean-conversion set, which the DuckDB oracle checks — pinned by
    * `StreamingSpec`. */
  def patternMatch(events: Dataset[PEv]): Dataset[Long] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[PEv], state: GroupState[PatternState]) =>
          var st = state.getOption
            .getOrElse(PatternState(Long.MaxValue, Long.MaxValue, converted = false))
          val out = scala.collection.mutable.Buffer[Long]()
          evs.toSeq.sortBy(e => (e.ts_us, e.event_type)).foreach { e =>
            e.event_type match {
              case "signup" =>
                if (e.ts_us < st.tSignup) st = st.copy(tSignup = e.ts_us)
              case "error" =>
                if (e.ts_us > st.tSignup && e.ts_us < st.tErr) st = st.copy(tErr = e.ts_us)
              case "purchase" =>
                if (!st.converted && e.ts_us > st.tSignup && e.ts_us < st.tErr) {
                  st = st.copy(converted = true)
                  out += user
                }
              case _ => ()
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Stream-stream inner join: every (click, view) pair per user where the
    * view happened within the 6 hours before the click — the streaming
    * twin of the batch `events_interval_join` query (which the DuckDB
    * oracle checks; the spec pins this one to it). Both sides carry
    * watermarks and the join condition bounds event-time distance, so the
    * state store evicts rows once the watermark passes — bounded state at
    * any input size, the stream-stream analogue of the bucketized range
    * join's bounded candidate sets. Inner joins emit on match (the
    * watermark only gates state cleanup), so bounded inputs produce the
    * complete pair set. */
  def clickViewJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    clicks.join(views,
        col("c_user") === col("v_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") < col("v_ts") + expr("INTERVAL 6 HOURS"))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"))
  }

  /** Convenience: run [[clickViewJoin]] over a bounded parquet-backed
    * stream to completion (both sides read the same directory). */
  def runClickViewJoinOnce(spark: SparkSession, eventsDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    StreamRun.memory(clickViewJoin(spark.readStream.schema(schema).parquet(eventsDir)),
      OutputMode.Append, "click_view")

  /** Convenience: run [[tumblingCounts]] over a bounded parquet-backed
    * stream to completion and return the result (used by tests/demos —
    * `availableNow` processes the whole input then stops). */
  def runTumblingOnce(spark: SparkSession, eventsDir: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    StreamRun.memory(tumblingCounts(spark.readStream.schema(schema).parquet(eventsDir)),
      OutputMode.Complete, "tumbling")

  /** Streaming bottom-k sample quantiles: the sketch's merge is a set
    * union + trim — associative, commutative, AND idempotent-under-
    * -determinism (re-adding a seen row is a no-op), so the SAME
    * [[graft.functions.SampleSketch.BottomKSample]] aggregate runs as a
    * native streaming aggregation with its O(k) buffer as the state-store
    * value per group. Every micro-batch folds into the standing sample;
    * the continuously-current quantiles are a deterministic function of
    * the rows seen so far, so the final table equals the batch answer
    * exactly (pinned by `StreamingSpec`). */
  /** Streaming twin of the seasonal-forecast family's SERVING path: live
    * events score against a STATIC per-(type, hour-of-day) baseline frame
    * (trained offline — [[graft.operators.EventsQueries.seasonalBaseline]])
    * via a stream-static equi-join, and events whose micro-unit deviation
    * exceeds `thresholdMicro` emit as anomalies. Stream-static joins keep
    * NO join state (the tiny baseline re-broadcasts per micro-batch), so
    * this is the zero-state anomaly monitor a 100 TB/day event feed wants:
    * scoring is a stateless projection + filter at scan parallelism.
    * Equality with the batch scorer over the same input is pinned by
    * `StreamingSpec`. */
  def seasonalAnomaly(events: DataFrame, baseline: DataFrame,
      thresholdMicro: Long): DataFrame =
    events
      .withColumn("hod", expr("(unix_micros(ts) div 3600000000) % 24"))
      .withColumn("q", expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)"))
      .join(broadcast(baseline), Seq("event_type", "hod"))
      .filter(abs(col("q") - col("forecast_micro")) > thresholdMicro)
      .select(col("event_id"), col("event_type"), col("hod"),
        (col("q") - col("forecast_micro")).as("deviation_micro"))

  /** Convenience: run [[seasonalAnomaly]] over a bounded parquet-backed
    * stream to completion. */
  def runSeasonalAnomalyOnce(spark: SparkSession, eventsDir: String,
      schema: org.apache.spark.sql.types.StructType, baseline: DataFrame,
      thresholdMicro: Long): DataFrame =
    StreamRun.memory(seasonalAnomaly(spark.readStream.schema(schema).parquet(eventsDir),
      baseline, thresholdMicro), OutputMode.Append, "seasonal_anomaly")

  def sampleQuantiles(events: DataFrame, k: Int): DataFrame =
    events.groupBy(col("event_type"))
      .agg(graft.functions.SampleSketch
        .bottomKSample(col("value"), col("event_id").cast("string"), k).as("samp"))
      .select(col("event_type"), size(col("samp")).as("m"),
        element_at(col("samp"),
          (floor(lit(0.5) * (size(col("samp")) - 1)) + 1).cast("int")).as("p50"))

  /** [[tumblingCounts]] as a real Structured Streaming query over the raw
    * fixture parquet, run to completion — see [[runWindowedRawOnce]]. */
  def runTumblingRawOnce(spark: SparkSession, sfDir: String): DataFrame =
    runWindowedRawOnce(spark, sfDir, tumblingCounts, "tumbling")

  /** Watermarked SLIDING-window aggregation (10-minute windows every
    * 5 minutes): each event lands in two windows, so the state store holds
    * ~2× the live window groups of the tumbling query — the heavier
    * streaming-aggregation shape, timed separately for exactly that
    * reason. Output schema matches the batch `events_sliding` twin. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n_events"), col("total_value"))

  def runSlidingRawOnce(spark: SparkSession, sfDir: String): DataFrame =
    runWindowedRawOnce(spark, sfDir, slidingCounts, "sliding")

  /** Run a windowed streaming aggregation straight off the raw fixture
    * parquet ([[graft.Tables.stream]], so the nanos-`ts` normalization is
    * [[graft.Tables.load]]'s) and return the final Complete-mode table —
    * Complete mode keeps every window in the state store, so the result
    * equals the batch aggregation exactly: DuckDB-oracle-checkable AND
    * bench-timeable (source listing + micro-batch planning + state-store
    * path end-to-end). */
  private def runWindowedRawOnce(spark: SparkSession, sfDir: String,
      agg: DataFrame => DataFrame, label: String): DataFrame =
    StreamRun.memory(agg(graft.Tables.stream(spark, sfDir, "events")),
      OutputMode.Complete, s"stream_$label")
}
