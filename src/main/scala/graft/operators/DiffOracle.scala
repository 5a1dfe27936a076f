package graft.operators

import graft.TableDef

/** Generator for the DuckDB oracle SQL that mirrors [[SnapshotDiff]] step by
  * step (normalize → full-outer join on `__key` → classify → emit changed
  * rows). Written in the Spark-SQL/DuckDB common subset; the mutation SQL
  * from [[Mutations]] is embedded verbatim so both engines diff identical
  * snapshots.
  */
object DiffOracle {
  private def norm(c: String): String =
    s"COALESCE(CAST($c AS VARCHAR), '${Normalize.NullSentinel}')"

  /** Normalized-snapshot CTE body: stringify-all + NULL sentinel + `__key`
    * (mirrors [[Normalize.withKey]]). */
  def normalizedSelect(src: String, t: TableDef, pk: Seq[String]): String = {
    val cols = t.cols.map(c => s"${norm(c)} AS $c").mkString(", ")
    val key = s"concat(${pk.map(norm).mkString(", ")})"
    s"SELECT $cols, $key AS __key FROM $src"
  }

  /** Named CTEs + final SELECT for one table's full diff. `prefix` namespaces
    * the CTE names so several diffs can share one WITH clause. */
  def diffParts(t: TableDef, afterSql: String, pk: Seq[String], prefix: String,
      oneWinner: Boolean = false): (Seq[(String, String)], String) = {
    val cols = t.cols
    val p = prefix

    /** Mirrors [[SnapshotDiff.oneRowPerKey]]: struct-max ≡ first row under
      * ORDER BY every column DESC in column order. */
    def dedup(src: String): String = {
      val ord = cols.map(c => s"$c DESC").mkString(", ")
      s"""SELECT ${cols.mkString(", ")}, __key FROM (
         |  SELECT *, row_number() OVER (PARTITION BY __key ORDER BY $ord) AS __rn
         |  FROM $src) ${src}_w WHERE __rn = 1""".stripMargin
    }
    val bSel = cols.map(c => s"b.$c AS b_$c").mkString(", ")
    val aSel = cols.map(c => s"a.$c AS a_$c").mkString(", ")
    val mods = "COALESCE(concat_ws(',', " +
      cols.map(c => s"CASE WHEN b_$c <> a_$c THEN '$c' END").mkString(", ") + "), '')"
    val bCols = cols.map(c => s"b_$c AS $c").mkString(", ")
    val aCols = cols.map(c => s"a_$c AS $c").mkString(", ")
    val head = "__key, diff_status, modified_columns"

    val ctes = (if (oneWinner) Seq(
      s"${p}_before_n0" -> normalizedSelect(t.name, t, pk),
      s"${p}_before_n" -> dedup(s"${p}_before_n0"),
      s"${p}_after_raw" -> afterSql,
      s"${p}_after_n0" -> normalizedSelect(s"${p}_after_raw", t, pk),
      s"${p}_after_n" -> dedup(s"${p}_after_n0")
    ) else Seq(
      s"${p}_before_n" -> normalizedSelect(t.name, t, pk),
      s"${p}_after_raw" -> afterSql,
      s"${p}_after_n" -> normalizedSelect(s"${p}_after_raw", t, pk)
    )) ++ Seq(
      s"${p}_j" ->
        s"""SELECT COALESCE(b.__key, a.__key) AS __key,
           |       (b.__key IS NOT NULL) AS in_b, (a.__key IS NOT NULL) AS in_a,
           |       $bSel, $aSel
           |FROM ${p}_before_n b FULL OUTER JOIN ${p}_after_n a ON b.__key = a.__key""".stripMargin,
      s"${p}_cls" ->
        s"""SELECT *,
           |  CASE WHEN NOT in_b THEN 'INSERTED'
           |       WHEN NOT in_a THEN 'DELETED'
           |       WHEN mods = '' THEN 'NOT_MODIFIED'
           |       ELSE 'UPDATED' END AS diff_status,
           |  CASE WHEN in_b AND in_a AND mods <> '' THEN mods ELSE '' END AS modified_columns
           |FROM (SELECT *, $mods AS mods FROM ${p}_j) ${p}_jm""".stripMargin,
      s"${p}_out" ->
        s"""SELECT $head, 'AFTER' AS side, $aCols FROM ${p}_cls WHERE diff_status = 'INSERTED'
           |UNION ALL
           |SELECT $head, 'BEFORE' AS side, $bCols FROM ${p}_cls WHERE diff_status = 'DELETED'
           |UNION ALL
           |SELECT $head, 'BEFORE' AS side, $bCols FROM ${p}_cls WHERE diff_status = 'UPDATED'
           |UNION ALL
           |SELECT $head, 'AFTER' AS side, $aCols FROM ${p}_cls WHERE diff_status = 'UPDATED'""".stripMargin
    )
    (ctes, s"SELECT * FROM ${p}_out")
  }

  private def withSql(ctes: Seq[(String, String)], select: String): String =
    "WITH " + ctes.map { case (n, q) => s"$n AS (\n$q\n)" }.mkString(",\n") + "\n" + select

  /** Complete oracle SQL for one table's diff. */
  def diffSql(t: TableDef, afterSql: String, pk: Seq[String],
      oneWinner: Boolean = false): String = {
    val (ctes, select) = diffParts(t, afterSql, pk, t.name + "_d", oneWinner)
    withSql(ctes, select)
  }

  /** Oracle for the per-column drift report: which columns change how often
    * across a table's UPDATED rows (one split+unnest over the classified
    * diff, then a count per column name). */
  def driftSql(t: TableDef, afterSql: String, pk: Seq[String]): String = {
    val p = t.name + "_dr"
    val (ctes, _) = diffParts(t, afterSql, pk, p)
    val keep = ctes.filterNot(_._1 == s"${p}_out")
    withSql(keep ++ Seq(
      s"${p}_upd" ->
        s"SELECT modified_columns FROM ${p}_cls WHERE diff_status = 'UPDATED'",
      s"${p}_tot" -> s"SELECT COUNT(*) AS n_updated_rows FROM ${p}_upd",
      s"${p}_cc" ->
        s"SELECT unnest(string_split(modified_columns, ',')) AS col_name FROM ${p}_upd"),
      s"""SELECT col_name, COUNT(*) AS n_changed, n_updated_rows,
         |  CAST(COUNT(*) AS DOUBLE) / n_updated_rows AS change_rate
         |FROM ${p}_cc CROSS JOIN ${p}_tot
         |GROUP BY col_name, n_updated_rows""".stripMargin)
  }

  /** Normalized one-winner rendering of an after-mutation snapshot — the
    * expected output of `applyDiff(before, diffOneWinner(before, after))`. */
  def normalizedOneWinnerSql(t: TableDef, afterSql: String, pk: Seq[String]): String = {
    val ord = t.cols.map(c => s"$c DESC").mkString(", ")
    withSql(Seq(
      "ar" -> afterSql,
      "n0" -> normalizedSelect("ar", t, pk)),
      s"""SELECT ${t.cols.mkString(", ")}, __key FROM (
         |  SELECT *, row_number() OVER (PARTITION BY __key ORDER BY $ord) AS __rn
         |  FROM n0) w
         |WHERE __rn = 1""".stripMargin)
  }

  /** Oracle for [[SnapshotDiff.scd2]]: validity-interval rows derived from
    * the classified one-winner join — unchanged keys stay open at version
    * 0, deleted/updated keys close their before row at [0, 1), and
    * inserted/updated keys open their after row at [1, NULL). */
  def scd2Sql(t: TableDef, afterSql: String, pk: Seq[String]): String = {
    val p = t.name + "_s"
    val (ctes, _) = diffParts(t, afterSql, pk, p, oneWinner = true)
    // drop the diff's `_out` emission; SCD2 emits its own interval rows
    val keep = ctes.filterNot(_._1 == s"${p}_out")
    val bCols = t.cols.map(c => s"b_$c AS $c").mkString(", ")
    val aCols = t.cols.map(c => s"a_$c AS $c").mkString(", ")
    withSql(keep,
      s"""SELECT __key, $bCols, CAST(0 AS BIGINT) AS valid_from,
         |       CAST(NULL AS BIGINT) AS valid_to
         |FROM ${p}_cls WHERE diff_status = 'NOT_MODIFIED'
         |UNION ALL
         |SELECT __key, $bCols, CAST(0 AS BIGINT), CAST(1 AS BIGINT)
         |FROM ${p}_cls WHERE diff_status IN ('DELETED', 'UPDATED')
         |UNION ALL
         |SELECT __key, $aCols, CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
         |FROM ${p}_cls WHERE diff_status IN ('INSERTED', 'UPDATED')""".stripMargin)
  }

  /** Oracle twin of [[SnapshotDiff.merkleSummary]]: same 60-bit md5-derived
    * hashes of the [[RowCodec.packSql]] row, same exact (HUGEINT) sum
    * reduced mod 10¹⁸, same hash-mod-bucket routing — dirty buckets only. */
  def merkleSummarySql(t: TableDef, afterSql: String, pk: Seq[String],
      nBuckets: Int): String = {
    import graft.functions.Hashing.hash64Sql
    val rowH = hash64Sql(RowCodec.packSql(t.cols))
    def side(src: String, rowsName: String, sumName: String) =
      s"""SELECT ${hash64Sql("__key")} % $nBuckets AS bucket,
         |  COUNT(*) AS $rowsName,
         |  CAST(SUM($rowH) % 1000000000000000000 AS BIGINT) AS $sumName
         |FROM $src GROUP BY bucket""".stripMargin
    s"""WITH mk_before_n AS (
       |${normalizedSelect(t.name, t, pk)}
       |), mk_after_raw AS (
       |$afterSql
       |), mk_after_n AS (
       |${normalizedSelect("mk_after_raw", t, pk)}
       |), mk_bs AS (
       |${side("mk_before_n", "b_rows", "b_sum")}
       |), mk_as AS (
       |${side("mk_after_n", "a_rows", "a_sum")}
       |)
       |SELECT COALESCE(b.bucket, a.bucket) AS bucket,
       |  COALESCE(b_rows, 0) AS b_rows, COALESCE(a_rows, 0) AS a_rows,
       |  COALESCE(b_sum, 0) AS b_sum, COALESCE(a_sum, 0) AS a_sum
       |FROM mk_bs b FULL JOIN mk_as a ON b.bucket = a.bucket
       |WHERE COALESCE(b_rows, 0) <> COALESCE(a_rows, 0)
       |   OR COALESCE(b_sum, 0) <> COALESCE(a_sum, 0)""".stripMargin
  }

  /** Oracle for [[graft.streaming.StreamingDiff.runCdcRawOnce]]'s
    * per-(status, side) event counts: phase 1 inserts every before row
    * (INSERTED = |before| + the classifier's after-only keys), phase 2
    * replays the batch classifier (DELETED = before-only, UPDATED emits a
    * BEFORE and an AFTER event per changed key). */
  def cdcCountsSql(t: TableDef, afterSql: String, pk: Seq[String]): String = {
    val p = t.name + "_sc"
    val (ctes, _) = diffParts(t, afterSql, pk, p)
    val keep = ctes.filterNot(_._1 == s"${p}_out")
    withSql(keep :+
      (s"${p}_nb" -> s"SELECT COUNT(*) AS n FROM ${p}_before_n"),
      // the engine's groupBy(diff_status, side) omits empty groups, so a
      // mutation mix that skips a class (no deletes, say) must drop that
      // row here too — hence the n_events > 0 filter over the full grid
      s"""SELECT diff_status, side, n_events FROM (
         |  SELECT 'INSERTED' AS diff_status, 'AFTER' AS side,
         |    CAST((SELECT n FROM ${p}_nb)
         |       + (SELECT COUNT(*) FROM ${p}_cls WHERE diff_status = 'INSERTED')
         |      AS BIGINT) AS n_events
         |  UNION ALL
         |  SELECT 'DELETED', 'BEFORE', CAST(COUNT(*) AS BIGINT)
         |  FROM ${p}_cls WHERE diff_status = 'DELETED'
         |  UNION ALL
         |  SELECT 'UPDATED', 'BEFORE', CAST(COUNT(*) AS BIGINT)
         |  FROM ${p}_cls WHERE diff_status = 'UPDATED'
         |  UNION ALL
         |  SELECT 'UPDATED', 'AFTER', CAST(COUNT(*) AS BIGINT)
         |  FROM ${p}_cls WHERE diff_status = 'UPDATED'
         |) u WHERE n_events > 0""".stripMargin)
  }

  /** Oracle for diff(A, A) — empty result (property: diff is reflexive-empty). */
  def identitySql(t: TableDef): String =
    diffSql(t, s"SELECT * FROM ${t.name}", t.pk)

  /** Oracle twin of [[SnapshotDiff.threeWayMerge]]: same fingerprint
    * reduction ([[RowCodec.fingerprintSql]] over the normalized columns)
    * and the same presence/equality CASE over two chained FULL JOINs. */
  def threeWaySql(t: TableDef, leftSql: String, rightSql: String, pk: Seq[String]): String = {
    def fpSel(src: String, out: String) =
      s"""SELECT concat(${pk.map(norm).mkString(", ")}) AS __key,
         |  ${RowCodec.fingerprintSql(t.cols.map(norm))} AS $out
         |FROM $src""".stripMargin
    s"""WITH left_t AS (
       |$leftSql
       |), right_t AS (
       |$rightSql
       |),
       |b AS (${fpSel(t.name, "b_fp")}),
       |l AS (${fpSel("left_t", "l_fp")}),
       |r AS (${fpSel("right_t", "r_fp")}),
       |m AS (
       |  SELECT __key,
       |    COALESCE(b_fp, '<ABSENT>') AS base_fp,
       |    COALESCE(l_fp, '<ABSENT>') AS left_fp,
       |    COALESCE(r_fp, '<ABSENT>') AS right_fp
       |  FROM b FULL JOIN l USING (__key) FULL JOIN r USING (__key))
       |SELECT __key, base_fp, left_fp, right_fp,
       |  CASE WHEN right_fp = base_fp THEN 'LEFT_CHANGE'
       |       WHEN left_fp = base_fp THEN 'RIGHT_CHANGE'
       |       WHEN left_fp = right_fp THEN 'BOTH_SAME'
       |       ELSE 'CONFLICT' END AS merge_status,
       |  CASE WHEN right_fp = base_fp THEN left_fp
       |       WHEN left_fp = base_fp THEN right_fp
       |       WHEN left_fp = right_fp THEN left_fp
       |       ELSE NULL END AS merged_fp
       |FROM m
       |WHERE NOT (left_fp = base_fp AND right_fp = base_fp)""".stripMargin
  }

  /** Oracle for the multi-table per-status change-count report. */
  def reportSql(tables: Seq[(TableDef, String)]): String = {
    val all = tables.map { case (t, afterSql) => (t, diffParts(t, afterSql, t.pk, t.name + "_d")) }
    val ctes = all.flatMap(_._2._1)
    val select = all.map { case (t, _) =>
      s"""SELECT '${t.name}' AS table_name, diff_status, COUNT(DISTINCT __key) AS n_keys
         |FROM ${t.name}_d_out GROUP BY table_name, diff_status""".stripMargin
    }.mkString("\nUNION ALL\n")
    withSql(ctes, select)
  }
}
