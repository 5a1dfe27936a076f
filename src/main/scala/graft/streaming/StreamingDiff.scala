package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** CDC-style continuous snapshot diff — the idiomatic scale-out form of the
  * reference's interactive loop (SURVEY §2.9).
  *
  * The reference re-snapshots the whole database and re-diffs on every
  * operator keypress (`/root/reference/cmd/dbdiff/main.go:62-87`), holding
  * both snapshots in driver heap. The streaming form instead consumes a
  * keyed changelog (each event carries the row's current normalized column
  * values, or a tombstone for deletes) and keeps only the LAST-SEEN ROW PER
  * KEY in distributed state — O(live keys) state sharded across executors,
  * emitting the same INSERTED / DELETED / UPDATED(before+after) events with
  * per-column `modified_columns` tracking as the batch
  * [[graft.operators.SnapshotDiff]].
  *
  * Deletions are explicit (tombstones): a stream cannot observe absence, so
  * a source that only re-scans snapshots must synthesize tombstones — that
  * is exactly the batch operator's job; this operator serves true
  * changelog/CDC sources.
  */
object StreamingDiff {
  /** One changelog event: normalized column values for `key`, or a
    * tombstone. `cols` is positional (the operator is schema-agnostic,
    * like the reference's positional compare, `extract_data.go:174-183`). */
  final case class KeyedRow(key: String, cols: Seq[String], tombstone: Boolean)

  /** One emitted diff event; mirrors the batch diff's output schema. */
  final case class DiffEvent(key: String, diff_status: String,
      modified_columns: String, side: String, cols: Seq[String])

  /** Stateful diff over a changelog stream. `colNames` names the positional
    * columns for `modified_columns` reporting. */
  def diffStream(events: Dataset[KeyedRow], colNames: Seq[String]): Dataset[DiffEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, evs: Iterator[KeyedRow], state: GroupState[Seq[String]]) =>
          var prior = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[DiffEvent]()
          evs.foreach { ev =>
            (prior, ev.tombstone) match {
              case (None, true) => // delete of unknown key: ignore
              case (None, false) =>
                out += DiffEvent(key, "INSERTED", "", "AFTER", ev.cols)
                prior = Some(ev.cols)
              case (Some(p), true) =>
                out += DiffEvent(key, "DELETED", "", "BEFORE", p)
                prior = None
              case (Some(p), false) =>
                val modified = colNames.indices
                  .filter(i => p.lift(i) != ev.cols.lift(i))
                  .map(colNames(_)).mkString(",")
                if (modified.nonEmpty) {
                  out += DiffEvent(key, "UPDATED", modified, "BEFORE", p)
                  out += DiffEvent(key, "UPDATED", modified, "AFTER", ev.cols)
                  prior = Some(ev.cols)
                } // equal → NOT_MODIFIED → filtered (reference F3)
            }
          }
          prior match {
            case Some(p) => state.update(p)
            case None => state.remove()
          }
          out.iterator
      }
  }

  /** Run [[diffStream]] as a REAL two-phase CDC session over the orders
    * snapshot pair, end to end, and return the per-(status, side) event
    * counts — the entry that makes the `flatMapGroupsWithState` path both
    * bench-timeable and DuckDB-checkable.
    *
    * Phase 1 writes the before snapshot as an upsert changelog to a temp
    * dir and drains the file-source stream (every key new → INSERTED
    * storm, state populated). Phase 2 appends the after snapshot's upserts
    * plus tombstones for vanished keys and drains again (unchanged rows
    * emit nothing — the stateful compare does the F3 filter). The emitted
    * event counts are then an exact function of the two snapshots, which
    * the oracle reproduces from the batch classifier: INSERTED = |before|
    * + |after-only keys|, DELETED = |before-only|, UPDATED twice = |both,
    * any column differing|. */
  def runCdcRawOnce(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    runCdc(spark, sfDir, restartBetweenPhases = false)

  /** [[runCdcRawOnce]] with an optional kill-and-resume: when
    * `restartBetweenPhases` is set, the query is STOPPED after the phase-1
    * drain and a fresh query resumes from the same checkpoint before the
    * mutation batch arrives — exercising offset-log and state-store
    * recovery on the real file-source pipeline (`StreamingDiffSpec` pins
    * resumed == uninterrupted).
    *
    * Data stays distributed END TO END: the changelog is parquet files
    * read by executors, the emitted events land in a parquet FILE SINK
    * (never a driver-side memory sink — at sf10 the event stream is
    * GB-scale, one INSERTED per orders row), and the only driver
    * materialization is the ≤4-row (status, side) count table returned.
    * Orders' PK is unique in the fixture (last-row-per-key state equals
    * batch multiplicity semantics only then). The changelog, sink and
    * checkpoint live under one [[StreamRun]] temp root. */
  def runCdc(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      restartBetweenPhases: Boolean): DataFrame = {
    import spark.implicits._
    val t = graft.Tables.orders
    val bn = graft.operators.Normalize.withKey(
      graft.Tables.load(spark, sfDir, t.name), t.pk)
    val an = graft.operators.Normalize.withKey(
      graft.operators.DiffQueries.after(spark, sfDir, t), t.pk)
    val key = col(graft.operators.Normalize.KeyCol).as("key")
    val colsArr = array(t.cols.map(col): _*)
    StreamRun(spark, "cdc") { run =>
      val srcDir = run.dir("changelog")
      bn.select(key, colsArr.as("cols"), lit(false).as("tombstone"))
        .write.mode("overwrite").parquet(srcDir)
      val schema = spark.read.parquet(srcDir).schema
      run.parquetSink(diffStream(
          spark.readStream.schema(schema).parquet(srcDir).as[KeyedRow], t.cols).toDF()) { sink =>
        sink.drain() // phase 1: initial load
        if (restartBetweenPhases) sink.restart() // resume from ckpt
        an.select(key, colsArr.as("cols"), lit(false).as("tombstone"))
          .union(bn.select(col(graft.operators.Normalize.KeyCol))
            .join(an.select(col(graft.operators.Normalize.KeyCol)),
              Seq(graft.operators.Normalize.KeyCol), "left_anti")
            .select(key, lit(null).cast(schema("cols").dataType).as("cols"),
              lit(true).as("tombstone")))
          .write.mode("append").parquet(srcDir)
        sink.drain() // phase 2: the mutation batch
      }
      // distributed count of the sunk events, then only ≤4 rows cross to
      // the driver — the returned frame owns no temp-dir or sink state
      val localCounts = run.sunk
        .groupBy(col("diff_status"), col("side"))
        .agg(count(lit(1)).as("n_events"))
        .as[(String, String, Long)].collect().toSeq
      localCounts.toDF("diff_status", "side", "n_events")
    }
  }

  /** Streaming twin of the batch incremental aggregate
    * ([[graft.operators.DiffQueries]] `diff_incremental_agg`): a grouped
    * count/sum kept continuously current by folding the differ's own
    * [[DiffEvent]] changelog — AFTER-side rows add, BEFORE-side rows
    * subtract, so an update that moves a row between groups decrements the
    * old group and increments the new one in the same micro-batch.
    *
    * Spark-first: this is a NATIVE streaming aggregation (state handled by
    * the engine, map-side partial merge, one shuffle on the group key), not
    * hand-rolled `GroupState`. Sums accumulate in exact decimal, so results
    * are independent of event interleaving across micro-batches. Groups
    * whose live count reaches 0 report n_rows = 0 (complete-mode output
    * cannot retract a group); consumers filter n_rows > 0, as the batch
    * operator does. */
  def incrementalAgg(events: Dataset[DiffEvent], colNames: Seq[String],
      groupCol: String, valueCol: String): DataFrame = {
    val gi = colNames.indexOf(groupCol)
    val vi = colNames.indexOf(valueCol)
    require(gi >= 0 && vi >= 0, s"unknown column: $groupCol/$valueCol not in $colNames")
    val w = when(col("side") === "AFTER", lit(1L)).otherwise(lit(-1L))
    events.toDF()
      .select(col("cols")(gi).as(groupCol), w.as("__w"),
        (w * col("cols")(vi).cast("decimal(38,4)")).cast("decimal(38,4)").as("__wv"))
      .groupBy(col(groupCol))
      .agg(sum(col("__w")).as("n_rows"),
        sum(col("__wv")).cast("decimal(38,4)").as("sum_val"))
  }
}
