package graft.app

import graft.{TableDef, Tables}
import graft.operators.SnapshotDiff
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}

/** The reference application's end-to-end loop (`cmd/dbdiff/main.go:23-98`):
  * collect a *before* snapshot of every table, wait for the operator to do
  * some work, collect *after*, extract + render the changes, then swap
  * `before = after` and go again.
  *
  * The reference holds both snapshots as driver-heap maps and diffs them
  * single-threaded — its ceiling is RAM on one machine. Here a "snapshot" is
  * a map of *lazy* DataFrames: nothing is read until the diff runs, the diff
  * itself is the distributed [[SnapshotDiff]] full-outer join, and the swap
  * is a map assignment. The only driver-side state is plan metadata.
  *
  * `source` abstracts "the live database" (`extract_data.go:19-95` scans):
  * it is re-invoked per snapshot, so whatever changed underneath (parquet
  * files rewritten, JDBC tables updated, or a test injecting mutation SQL)
  * is what the next snapshot sees.
  */
final class DbDiffApp(
    spark: SparkSession,
    tables: Seq[TableDef],
    source: TableDef => DataFrame,
    consoleOut: String => Unit = println,
    maxConsoleRows: Int = 200,
    pinSnapshots: Boolean = false,
    merkleBuckets: Int = 0) extends AutoCloseable {

  import DbDiffApp.IterationResult

  /** One frame per table (S6). With `pinSnapshots` each frame is pinned as
    * a DISK_ONLY local checkpoint: a lazy frame over a MUTABLE source (a live
    * JDBC table) would re-scan at diff time and silently see the
    * post-mutation state on both sides — the reference materializes its
    * before snapshot for exactly this reason (`main.go:56-60`), into driver
    * heap; here the pin is a distributed checkpoint on executor local disks
    * (`spark.local.dir`), off the heap, with its lineage cut off, so a diff
    * never re-reads the source. The cost of that cut: a lost executor fails
    * the next action on the snapshot instead of recomputing it, and under
    * dynamic allocation an executor holding pins stays alive only while
    * `spark.dynamicAllocation.cachedExecutorIdleTimeout` keeps its default
    * (infinite). Pins run concurrently through [[graft.CacheScope.pinAll]],
    * one Spark job per table, from a pool capped at
    * `min(tables, defaultParallelism)` threads: a JDBC pin is a
    * one-partition read, so more pins than cores would only queue. Like the
    * reference's table-by-table scan, a snapshot promises no cross-table
    * consistency. `source` itself is called on the caller's thread, so it
    * need not be thread-safe. The app owns its pins, not [[graft.CacheScope]]
    * (whose `releaseAll` ends every iteration and would drop the live before
    * snapshot): [[iterate]] releases a snapshot as soon as the swap retires
    * it — a long-running loop holds at most two pinned snapshots — and
    * [[close]] releases the last one. A snapshot whose pin fails leaves
    * nothing behind: `pinAll` releases the pins that succeeded before it
    * rethrows. Leave false for immutable sources (parquet fixture dirs)
    * where pinning is pure cost. */
  private def snapshotAll(): Map[String, DataFrame] = {
    val frames = tables.map(source)
    tables.map(_.name).zip(
      if (pinSnapshots) graft.CacheScope.pinAll(frames, StorageLevel.DISK_ONLY) else frames).toMap
  }

  /** Drops a snapshot's pinned blocks; an unpinned snapshot holds none. */
  private def release(snap: Map[String, DataFrame]): Unit =
    if (pinSnapshots) snap.values.foreach(graft.CacheScope.releasePin)

  private var before: Map[String, DataFrame] = snapshotAll()

  /** The snapshot the next iteration diffs against. */
  private[graft] def beforeSnapshot: Map[String, DataFrame] = before

  /** Runs one BEFORE→AFTER→diff→report→swap iteration. Prints console diff
    * lines, writes the styled workbook to `outName` (empty = no file) and
    * returns per-table changed-key counts, all from one pass over each
    * table's diff ([[ReportSink.writeIteration]]). */
  def iterate(outName: String = ""): IterationResult = {
    val after = snapshotAll()
    val result = try diffAndReport(after, outName)
    catch { case e: Throwable => release(after); throw e }
    val retired = before
    before = after // the swap, `main.go:83`
    // every action on the retired snapshot has run by now (console lines,
    // changed counts, report rows) — release its pins so a long-running
    // loop holds at most two pinned snapshots
    release(retired)
    // same discipline for executor storage: any cache a diff variant
    // registered this iteration is released before the next one starts
    graft.CacheScope.releaseAll()
    result
  }

  private def diffAndReport(after: Map[String, DataFrame], outName: String): IterationResult = {
    // one-winner mode: the reference keeps one map entry per key, so its
    // loop's diff(A, A) = ∅ holds even for duplicate-PK tables — ours must too.
    // With merkleBuckets > 0 each table diffs behind the bucket-checksum
    // prune ([[SnapshotDiff.diffOneWinnerPruned]]): a mostly-unchanged lake
    // re-joins only its dirty buckets each cycle — the repeat-diff economics
    // a standing loop actually needs (losslessness pinned by spec). Dirty
    // buckets land on the driver and prune via InSet, so a loop that never
    // clears the Spark cache accumulates no persisted frames.
    val diffs: Seq[(TableDef, DataFrame)] = tables.map { t =>
      t -> (if (merkleBuckets > 0)
        SnapshotDiff.diffOneWinnerPruned(before(t.name), after(t.name), t.pk, merkleBuckets)
      else SnapshotDiff.diffOneWinner(before(t.name), after(t.name), t.pk))
    }

    // console lines (S7), changed-key counts and the workbook (S8) come
    // from one walk per table, as the reference prints each row while it
    // writes it (`main.go:204-246`)
    val out: OutputStream =
      if (outName.isEmpty) OutputStream.nullOutputStream()
      else new BufferedOutputStream(new FileOutputStream(outName))
    val changed = try ReportSink.writeIteration(diffs, out, consoleOut, maxConsoleRows)
    finally out.close()
    IterationResult(changed, Some(outName).filter(_.nonEmpty))
  }

  /** Releases the pins of the last snapshot. The app cannot iterate after
    * this. */
  override def close(): Unit = release(before)
}

object DbDiffApp {
  final case class IterationResult(changedKeys: Map[String, Long],
      reportPath: Option[String]) {
    def totalChanged: Long = changedKeys.values.sum
  }

  /** Source over a parquet table directory (the fixture layout). */
  def parquetSource(spark: SparkSession, dir: String): TableDef => DataFrame =
    t => Tables.load(spark, dir, t.name)

  /** Source over a live JDBC database — the reference's actual deployment
    * shape (`db_impl.go:20-61`): each snapshot re-scans the table, in one
    * partition, so whatever the operator changed in the database between
    * iterations is what the next diff sees. */
  def jdbcSource(spark: SparkSession, url: String, schema: String,
      props: Map[String, String] = Map.empty): TableDef => DataFrame =
    t => graft.sources.JdbcSnapshots.snapshot(
      spark, url, graft.sources.JdbcSnapshots.qualifiedTable(schema, t.name), props)

  /** Catalog-driven table discovery over JDBC (S3/S4): table list + PKs
    * from the live catalog, column lists from the scan schema, and the
    * reference's keyless fallback (S5, `dbutil.go:136-141`) — a table
    * without a PK keys on all its columns. Runs no Spark job: the catalog
    * is driver-side SQL and a JDBC scan's schema resolves on the driver. */
  def jdbcTables(spark: SparkSession, dialect: String, url: String, schema: String,
      props: Map[String, String] = Map.empty): Seq[TableDef] =
    graft.sources.JdbcSnapshots.catalog(dialect, url, schema, props).map {
      case (name, pks) =>
        val cols = graft.sources.JdbcSnapshots
          .snapshot(spark, url,
            graft.sources.JdbcSnapshots.qualifiedTable(schema, name), props)
          .columns.toSeq
        TableDef(name, cols, if (pks.nonEmpty) pks else cols)
    }
}
