package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.QuantizedVec
import graft.operators.{SimilarityQueries, SnapshotDiff}

/** The semantic drift diff as a CONTINUOUS consumer — the deployment
  * shape of `diff_semantic_drift` (cf. the reference's loop-forever
  * whole-snapshot compare, `cmd/dbdiff/main.go:62-87`, pointed at the
  * embedding column): the AFTER snapshot arrives as a file feed, and
  * every arriving row is scored against the static BEFORE index the
  * moment it lands — "does this doc need re-embedding/re-indexing" at
  * ingest latency instead of at the nightly diff.
  *
  * Everything scale-relevant is STATELESS, which is the design's point:
  *
  *   - the arriving row carries its own vector, so scoring is one
  *     stream-static equi-join on vec_id (pulls the before vector) plus
  *     a per-row codegen'd [[QuantizedVec.qcosine]] — no explode, no
  *     aggregation, no streaming state at all on the scoring path;
  *   - change detection is a per-row quantized-array comparison (the
  *     same [[QuantizedVec.quantized]] integers the batch's component join
  *     sums), so stream and batch agree bit-for-bit on UPDATED vs
  *     NOT_MODIFIED, and the cosine is the identical integer dot over
  *     identical norms — the decision thresholds compare equal doubles;
  *   - DELETED rows never ARRIVE (an absent key is not an event a file
  *     feed can deliver without tombstones, which the fixture lacks), so
  *     the consumer's contract is the arrival-visible subset: its own
  *     oracle row replays the batch chain minus the DELETED branch.
  *
  * The feed, sink and checkpoint live under one [[StreamRun]] temp root;
  * the result is eagerly pinned before the root is deleted, so the
  * returned frame is distributed, not collected (the drift table is
  * delta-sized — it grows with the corpus).
  */
object StreamingSemanticDrift {

  /** Quantized integer array of a vector column — the same per-element
    * [[QuantizedVec.quantized]] the batch component explode applies. */
  private def quantArrOf(colName: String): Column =
    transform(col(colName), QuantizedVec.quantized(_))

  def runDriftOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val before = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    StreamRun(spark, "semantic_drift") { run =>
      val arrivalDir = run.dir("after")
      // the "arriving" snapshot, landed as files — in production this is
      // the upstream embedding job's output directory
      SimilarityQueries.driftAfterArm(before)
        .write.mode("overwrite").parquet(arrivalDir)
      val schema = spark.read.parquet(arrivalDir).schema
      val arrivals = spark.readStream.schema(schema).parquet(arrivalDir)
      // b_present marks row EXISTENCE on the before side — branching on
      // bq.isNull would conflate "no before row" with "before row whose
      // embedding is NULL" (the latter is an UPDATE, not an INSERT)
      val bstat = before.select(col("vec_id"),
        lit(true).as("b_present"),
        col("embedding").as("b_emb"),
        quantArrOf("embedding").as("bq"),
        QuantizedVec.qnormsq(col("embedding")).as("bnsq"))
      val scored = arrivals
        .select(col("vec_id"), col("embedding").as("a_emb"),
          quantArrOf("embedding").as("aq"),
          QuantizedVec.qnormsq(col("embedding")).as("ansq"))
        .join(bstat, Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          when(col("b_present").isNull, SnapshotDiff.Inserted)
            .when(col("bq") === col("aq"), SnapshotDiff.NotModified)
            .otherwise(SnapshotDiff.Updated).as("status"),
          when(col("b_present").isNotNull && !(col("bq") <=> col("aq")),
            QuantizedVec.qcosine(col("b_emb"), col("a_emb"),
              col("bnsq"), col("ansq"))).as("cos"))
        .filter(col("status") =!= SnapshotDiff.NotModified)
        .withColumn("drift",
          when(col("status") === SnapshotDiff.Updated,
            when(col("cos") < SimilarityQueries.DriftTau, "semantic")
              .otherwise("cosmetic")))
      run.parquetSink(scored)(_.drain())
      // pin (eager checkpoint) so the frame survives the temp-root cleanup
      // as distributed blocks — never a driver collect
      graft.CacheScope.pinned(run.sunk
        .select(col("vec_id"), col("status"), col("cos"), col("drift")))
    }
  }
}
