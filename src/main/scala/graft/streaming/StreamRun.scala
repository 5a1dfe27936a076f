package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The run policy of every streaming query the library runs to
  * completion: the registry's `stream_*` twins.
  *
  *   - A run owns a fresh temp root (staged feeds, sinks, checkpoints),
  *     deleted when the run returns or throws, so a watchdog-cancelled
  *     attempt can neither collide with a retry nor leak disk into it.
  *   - A run's query name comes from one counter, so no two live queries
  *     share a name.
  *   - A drained query is stopped in `finally`: a failing batch leaves no
  *     active query behind.
  *   - A memory-sink run drops its temp view once the result frame is
  *     built. The frame holds the sink, so it keeps its rows; the session
  *     catalog keeps nothing.
  *
  * Data-sized results go to the parquet sink ([[parquet]], or
  * [[Run.parquetSink]] for a run of several phases); the memory sink
  * ([[memory]]) is for control-plane-sized tables.
  */
object StreamRun {
  private val runSeq = new AtomicInteger(0)

  /** One run: its temp root and its query name. */
  final class Run private[StreamRun] (spark: SparkSession, root: String,
      private[StreamRun] val name: String) {
    /** A directory under the run's temp root. */
    def dir(sub: String): String = s"$root/$sub"

    /** Start `stream` into the run's parquet sink (Append mode, checkpoint
      * under the temp root), hand `body` the running [[Sink]], and stop the
      * query when `body` returns or throws. `stream` is rebuilt on every
      * (re)start. */
    def parquetSink[T](stream: => DataFrame)(body: Sink => T): T = {
      val sink = new Sink(() => stream.writeStream.outputMode(OutputMode.Append)
        .queryName(name).format("parquet").option("path", dir("out"))
        .option("checkpointLocation", dir("ckpt")).start())
      try body(sink) finally sink.stop()
    }

    /** The rows the parquet sink holds. */
    def sunk: DataFrame = spark.read.parquet(dir("out"))
  }

  /** A running parquet-sink query. */
  final class Sink private[StreamRun] (start: () => StreamingQuery) {
    private var q = start()
    /** Process every input that has arrived; rethrows a failed batch. */
    def drain(): Unit = q.processAllAvailable()
    /** Stop the query and resume it from its checkpoint. */
    def restart(): Unit = { q.stop(); q = start() }
    private[StreamRun] def stop(): Unit = q.stop()
  }

  /** Run `body` with a fresh temp root (prefix `graft_<label>_`) and query
    * name; the root is deleted when `body` returns or throws. */
  def apply[T](spark: SparkSession, label: String)(body: Run => T): T = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_${label}_").toFile
    try body(new Run(spark, root.toString, s"graft_${label}_${runSeq.incrementAndGet()}"))
    finally FileUtils.deleteQuietly(root)
  }

  /** Drain `stream` into a parquet sink once and give `use` the sunk rows.
    * The sink is deleted when `use` returns, so `use` must materialize
    * (collect or pin) what it keeps. */
  def parquet[T](stream: DataFrame, label: String)(use: DataFrame => T): T =
    StreamRun(stream.sparkSession, label) { run =>
      run.parquetSink(stream)(_.drain())
      use(run.sunk)
    }

  /** Drain `stream` into a memory sink in `mode` and return the sink's
    * rows as a frame; the query is stopped and its temp view dropped. */
  def memory(stream: DataFrame, mode: OutputMode, label: String): DataFrame =
    StreamRun(stream.sparkSession, label) { run =>
      val q = stream.writeStream.outputMode(mode).format("memory")
        .queryName(run.name).option("checkpointLocation", run.dir("ckpt")).start()
      try {
        try q.processAllAvailable() finally q.stop()
        stream.sparkSession.table(run.name)
      } finally stream.sparkSession.catalog.dropTempView(run.name)
    }
}
