package graft

import graft.operators.EventsQueries
import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming pipelines agree with their oracle-checked batch
  * equivalents. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("deployed streaming classifier == batch classifier confusion") {
    // the literal-array scorer on the stream must reproduce the batch
    // broadcast-join apply bit-for-bit (integer adds commute); both are
    // gated by the same oracle row, this pins them against each other
    val batch = SparkEntry.queries("pipeline_quality_classifier")(spark, Sf)
      .collect().map(_.toSeq).toSet
    CacheScope.releaseAll()
    val stream = SparkEntry.queries("stream_quality_classifier")(spark, Sf)
      .collect().map(_.toSeq).toSet
    assert(stream == batch && stream.nonEmpty)
  }

  test("streaming semantic drift == batch drift diff minus unseen deletes") {
    // the consumer scores ARRIVING rows statelessly (per-row quantized
    // arrays + codegen cosine) where the batch fuses a component join —
    // same integers, same doubles, so on the arrival-visible subset
    // (everything but DELETED, which a tombstone-less feed cannot see)
    // the two must be bit-identical
    val batch = SparkEntry.queries("diff_semantic_drift")(spark, Sf)
      .filter(col("status") =!= graft.operators.SnapshotDiff.Deleted)
      .collect().map(_.toSeq).toSet
    CacheScope.releaseAll()
    val stream = SparkEntry.queries("stream_semantic_drift")(spark, Sf)
      .collect().map(_.toSeq).toSet
    assert(stream == batch && stream.nonEmpty)
    CacheScope.releaseAll()
  }

  test("streaming tumbling counts == batch tumbling counts") {
    val batch = EventsQueries.queries("events_tumbling")(spark, Sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // the shipped twin streams the raw fixture through Tables.stream
    val streamed = EventStreams.runTumblingRawOnce(spark, Sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("streaming CMS counters == batch CMS sketch over the same corpus") {
    // the Count-Min build is ONE hash aggregation, so the identical plan
    // runs as a streaming state-store aggregation: counters fold
    // associatively/commutatively across micro-batches, and the final
    // complete-mode table must equal the batch sketch bit-for-bit
    val docs = Tables.load(spark, Sf, "documents")
    val toks = docs.select(explode(graft.functions.Hashing.tokens(col("text"))).as("term"))
    val batch = graft.operators.SketchQueries.cmsSketch(toks)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

    val dir = tempDir("graft_cms_in")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
      .select(explode(graft.functions.Hashing.tokens(col("text"))).as("term"))
    val q = graft.operators.SketchQueries.cmsSketch(stream)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("graft_cms_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("graft_cms_stream")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("watermark drops late data: a row below the watermark never lands in its window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val df = input.toDS().toDF("ts_us", "event_type", "value")
      .select(timestamp_micros(col("ts_us")).as("ts"), col("event_type"), col("value"))
    val q = EventStreams.tumblingCounts(df)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("graft_late").start()
    val base = 1700000100L * 1000000L // epoch micros, aligned to the 5-min grid
    def at(min: Long) = base + min * 60L * 1000000L
    try {
      // batch 1: three on-time events in the first 5-min window, plus one
      // far-future event that advances the watermark to +50 min
      input.addData((at(0), "click", 1.0), (at(1), "click", 1.0),
        (at(2), "click", 1.0), (at(60), "click", 1.0))
      q.processAllAvailable()
      // batch 2: one LATE event for the first window (watermark is now far
      // past it) plus a nudge that keeps the stream moving
      input.addData((at(1), "click", 1.0), (at(61), "click", 1.0))
      q.processAllAvailable()
      input.addData((at(90), "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("graft_late")
      .select("bucket_start", "n_events").collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    val firstWindow = rows.keys.min
    // the late row was dropped: the first finalized window counts 3, not 4
    assert(rows(firstWindow) == 3L, rows.toString)
    assert(!rows.valuesIterator.contains(4L), rows.toString)
  }
}
