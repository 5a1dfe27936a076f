package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The quality-rule cascade as a CONTINUOUS curation stage.
  *
  * [[graft.operators.PipelineQueries]]'s cascade is a stateless projection,
  * so the exact batch expressions run unchanged under Structured Streaming —
  * the batch/stream unification Spark promises, demonstrated end-to-end:
  * file source (the crawl feed stand-in) → per-document verdict → parquet
  * FILE SINK. At 100 TB-a-day ingest this is the shape that annotates
  * documents as they arrive instead of re-scanning the lake nightly.
  *
  * Data stays distributed end to end: the decision rows land in the file
  * sink (never a driver-side memory sink); only the ≤5-row per-reason
  * funnel crosses to the driver. The sink runs under [[StreamRun]].
  */
object StreamingCuration {
  /** Run the cascade over the raw documents fixture as a structured stream
    * into a parquet sink, then fold the sunk decisions into the curation
    * FUNNEL (reason → docs, tokens) — identical to aggregating the batch
    * cascade, which is exactly what the oracle does. */
  def runCascadeFunnelOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StreamRun.parquet(graft.operators.PipelineQueries.cascadeOver(
        graft.Tables.stream(spark, sfDir, "documents")), "cascade_funnel") {
      _.groupBy(col("reason"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
        .as[(String, Long, Long)].collect().toSeq
    }.toDF("reason", "n_docs", "total_tokens")
  }
}
