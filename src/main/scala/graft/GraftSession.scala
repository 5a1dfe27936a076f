package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session configuration — the knobs that carry
  * the 100 TB design, applied identically by every entry point (the dbdiff
  * CLI, Verify, Bench, PlanDump, RecallProbe, ScaleUp) and documented once:
  *
  *   - `spark.sql.adaptive.*` — AQE re-plans at runtime: shuffle-partition
  *     coalescing keeps reducers full at any data scale, and skew-join
  *     splitting handles hot keys the static plan can't see (explicit
  *     salting, [[operators.SkewJoin]], covers the known-extreme cases).
  *   - `spark.sql.shuffle.partitions` — sized to the executor-core count in
  *     this harness (local[N]); on a real cluster this is a floor, and AQE
  *     coalescing owns the effective number per stage.
  *   - `spark.sql.files.maxPartitionBytes` 128m — input splits sized so a
  *     scan task's working set (row batch + codegen buffers) stays
  *     comfortably inside executor memory; at 100 TB this is what bounds
  *     per-task memory, not the table size.
  *   - `spark.sql.autoBroadcastJoinThreshold` 64m — dimension tables up to
  *     TPC-H `part`-at-scale broadcast instead of shuffling the fact side;
  *     the operators additionally mark known dims with `broadcast()`.
  *   - `spark.serializer` Kryo — smaller shuffle/checkpoint payloads.
  *   - `spark.buffer.pageSize` 2m ([[PageSizeBytes]]) — the Tungsten page
  *     every broadcast hash relation, sort buffer and aggregation map grows
  *     by. Unset, Spark derives it from heap ÷ cores (16 MiB at a 3 GB
  *     heap on 4 cores, 64 MiB, its maximum, at 7 GB), and each
  *     deserialized copy of a string-keyed or multi-column-keyed broadcast
  *     relation takes one whole page, so the page, not the data, sets what
  *     every such broadcast holds on every executor. A record larger than
  *     a page still gets a page of its own size. The ceiling it sets: a
  *     task's 8,192-entry page table × 2 MiB = 16 GiB of Tungsten memory
  *     per task. The limit: the page size is fixed when the SparkContext
  *     starts, so `getOrCreate` on a running context keeps that context's
  *     pages.
  *
  * Extensions ([[GraftExtensions]]: `qdot`, `qnormsq`, `kmv_distinct`) are
  * installed so the SQL surface is complete from any entry point.
  */
object GraftSession {
  /** Tungsten page size of every session (`spark.buffer.pageSize`). */
  val PageSizeBytes: Long = 2L * 1024 * 1024

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.buffer.pageSize", PageSizeBytes.toString)
      // Spark 4's recursive-CTE safety valve caps ACCUMULATED rows across
      // iterations at 1M by default — a data-size limit, not a depth limit,
      // so it trips on legitimate input growth (the sf1 BFS walks >1M
      // frontier rows). Our recursions are depth-bounded in the SQL itself
      // (hop < 4); raise the row valve so data scale doesn't abort them.
      .config("spark.sql.cteRecursionRowLimit", "1000000000")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  def create(cpus: String, appName: String): SparkSession = {
    val s = builder(cpus).appName(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
