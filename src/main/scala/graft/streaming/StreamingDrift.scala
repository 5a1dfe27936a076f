package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.DiffQueries

/** Streaming distribution-drift monitor — the continuous twin of the batch
  * `diff_dist_drift` query (cf. jparound30/dbdiff's whole-snapshot compare,
  * `extract_data.go:196-246`, whose statistical companion this is): the
  * after-side snapshot arrives as a FEED, and the monitor answers "did the
  * distribution move?" per micro-batch instead of at the nightly re-scan.
  *
  * Everything scale-relevant about the batch operator survives streaming
  * unchanged, which is the point of the design:
  *
  *   - the mutation is applied to the stream as a STATELESS per-row
  *     fan-out ([[afterStatusPrice]]) — deletes are a filter, updates a
  *     projection, inserts an explode, so the feed derivation shuffles
  *     nothing (same discipline as [[StreamingNearDup.withDelta]]);
  *   - the bucket explode is the batch query's own
  *     [[DiffQueries.ordersDriftBuckets]] — fixed band edges are what
  *     make histograms comparable across snapshots AND micro-batches;
  *   - the only state is the streaming histogram aggregation:
  *     ≤ (#cols · #buckets) rows regardless of feed size — the memory
  *     sink holds a control-plane table, never data (the CDC diff's
  *     data-sized memory sink was removed in round 6; a ~30-row Complete
  *     table is the sink this mode exists for, the `EventStreams`
  *     convention).
  *
  * The final table joins the streamed after-histogram against the static
  * before-histogram and applies the batch query's own integer ppm/TVD
  * projection ([[DiffQueries.driftOver]]) — spec-pinned EQUAL to the batch
  * `diff_dist_drift` result and hash-gated by the same DuckDB oracle row
  * (the `stream_neardup` one-oracle-gates-both convention).
  */
object StreamingDrift {
  /** `Mutations.afterSql("orders")` restricted to the two monitored
    * columns, as stateless per-row fan-out on the stream: %10=3 rows are
    * deleted (filter), %10=4 rows carry the 'X' status + repriced total
    * (the emergent-category alert the batch test pins), %10=5 rows emit
    * twice (original + shifted-key insert — identical on the monitored
    * columns, so the histogram sees the duplicate mass exactly as the
    * batch after-frame does). */
  def afterStatusPrice(orders: DataFrame): DataFrame = orders
    .filter(expr("o_orderkey % 10 <> 3"))
    .select(explode(expr(
      """CASE
        | WHEN o_orderkey % 10 = 4 THEN array(named_struct(
        |   'o_orderstatus', 'X', 'o_totalprice', o_totalprice + 0.25))
        | WHEN o_orderkey % 10 = 5 THEN array(
        |   named_struct('o_orderstatus', o_orderstatus,
        |                'o_totalprice', o_totalprice),
        |   named_struct('o_orderstatus', o_orderstatus,
        |                'o_totalprice', o_totalprice))
        | ELSE array(named_struct('o_orderstatus', o_orderstatus,
        |                         'o_totalprice', o_totalprice)) END"""
        .stripMargin)).as("r"))
    .select(col("r.o_orderstatus").as("o_orderstatus"),
      col("r.o_totalprice").as("o_totalprice"))

  /** Stream the orders fixture through mutation fan-out → bucket explode →
    * streaming histogram (Complete mode, control-plane-sized), then join
    * the static before-histogram and emit the batch drift table. */
  def runDistDriftOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val afterHist = StreamRun.memory(
      DiffQueries.ordersDriftBuckets(afterStatusPrice(graft.Tables.stream(spark, sfDir, "orders")))
        .groupBy(col("col_name"), col("bucket"))
        .agg(count(lit(1)).as("after_n")),
      OutputMode.Complete, "drift")
    val beforeHist = DiffQueries
      .ordersDriftBuckets(graft.Tables.load(spark, sfDir, "orders"))
      .groupBy(col("col_name"), col("bucket"))
      .agg(count(lit(1)).as("before_n"))
    // full-outer: a bucket present on one side only (the emergent 'X'
    // status, a vanished band) must surface with an explicit zero
    val g = beforeHist.join(afterHist, Seq("col_name", "bucket"), "full_outer")
      .select(col("col_name"), col("bucket"),
        coalesce(col("before_n"), lit(0L)).as("before_n"),
        coalesce(col("after_n"), lit(0L)).as("after_n"))
    DiffQueries.driftOver(g)
  }
}
