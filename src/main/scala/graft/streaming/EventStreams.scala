package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming forms of the event-pipeline windowed counts.
  *
  * The reference's interactive before/after loop is a manually-triggered
  * micro-batch over mutable external state (SURVEY §2.9); its idiomatic
  * scale-out form is a continuous pipeline: `readStream` → watermarked
  * windowed aggregation → streaming sink. The column logic matches the
  * batch operators in [[graft.operators.EventsQueries]], so the
  * DuckDB-oracle-checked batch results pin the streaming semantics too.
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
