package graft.app

import graft.{TableDef, Tables}
import graft.operators.{Normalize, RenderQueries, SnapshotDiff}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.io.{BufferedWriter, FileWriter}

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
    feedDir: String = "",
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

  /** Total record count across tables — the reference prints this per
    * snapshot (`main.go:59,76`). One distributed count per table, unioned
    * into a single job; no rows reach the driver. */
  def totalCount(snap: Map[String, DataFrame]): Long =
    snap.values.map(_.agg(count(lit(1)).as("n"))).reduce(_.unionAll(_))
      .agg(sum(col("n")).as("total")).head().getLong(0)

  private var before: Map[String, DataFrame] = snapshotAll()
  private var iterSeq = 0

  /** The snapshot the next iteration diffs against. */
  private[graft] def beforeSnapshot: Map[String, DataFrame] = before

  /** Runs one BEFORE→AFTER→diff→report→swap iteration. Writes the styled
    * report to `outName` (empty = skip file; a `.xlsx` name selects the
    * reference's workbook, anything else HTML), prints console diff lines,
    * returns per-table changed-key counts. */
  def iterate(outName: String = ""): IterationResult = {
    iterSeq += 1
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

    // console renderer (S7) — reference prints while building the workbook
    var changed = Map.empty[String, Long]
    diffs.foreach { case (t, d) =>
      val n = ReportSink.printConsole(
        RenderQueries.consoleLines(d, t.cols), consoleOut, maxConsoleRows)
      if (n > 0) consoleOut(s"===${t.name}=== ($n rows shown)")
      changed += t.name -> d.select(col(Normalize.KeyCol)).distinct().count()
    }

    // change-feed sink: the iteration's whole change set as ONE fixed-width
    // parquet stream (table, key, status, modified columns, side, md5 row
    // fingerprint) — what a downstream CDC consumer tails, next to the
    // human-facing console/HTML sinks. Feed width is schema-independent,
    // so one sink serves every table at any width.
    val feedPath = if (feedDir.nonEmpty) {
      val p = s"$feedDir/iter_$iterSeq"
      diffs.map { case (t, d) => SnapshotDiff.feed(d, t.name, t.cols) }
        .reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(p)
      Some(p)
    } else None

    // styled report (S8) for tables with changes: `-o x.xlsx` selects the
    // reference's actual workbook format, anything else the HTML twin
    val reportPath = if (outName.nonEmpty) {
      if (outName.endsWith(".xlsx")) {
        val sections = diffs.collect { case (t, d) if changed(t.name) > 0 =>
          t -> RenderQueries.xlsxCells(d, t.cols)
        }
        val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(outName))
        try ReportSink.writeXlsx(sections, os) finally os.close()
      } else {
        val sections = diffs.collect { case (t, d) if changed(t.name) > 0 =>
          t -> RenderQueries.htmlRows(d, t.cols)
        }
        val w = new BufferedWriter(new FileWriter(outName))
        try ReportSink.writeHtml(sections, w) finally w.close()
      }
      Some(outName)
    } else None

    IterationResult(changed, reportPath, feedPath)
  }

  /** Releases the pins of the last snapshot. The app cannot iterate after
    * this. */
  override def close(): Unit = release(before)
}

object DbDiffApp {
  final case class IterationResult(changedKeys: Map[String, Long],
      reportPath: Option[String], feedPath: Option[String] = None) {
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
      spark, url, graft.sources.JdbcSnapshots.qualifiedTable(schema, t.name),
      None, None, 1, props)

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
            graft.sources.JdbcSnapshots.qualifiedTable(schema, name),
            None, None, 1, props)
          .columns.toSeq
        TableDef(name, cols, if (pks.nonEmpty) pks else cols)
    }
}
