package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's core operator: keyed snapshot diff.
  *
  * Reference semantics (`/root/reference/extract_data.go:196-246`,
  * `ExtractChangedData`): probe the *after* snapshot with every *before* key
  * — key missing from after → DELETED; present and all columns equal →
  * NOT_MODIFIED; present and unequal → UPDATED (both rows emitted, before
  * then after, with the exact set of modified columns recorded on both,
  * `extract_data.go:161-184`); keys only in after → INSERTED. Only
  * changed rows reach the report (`extract_data.go:216,226-239`).
  *
  * The reference implements this as a single-threaded driver-side hash join
  * over two fully heap-materialized Go maps — its scale ceiling is driver
  * RAM. Here the same semantics are one declarative full-outer join on the
  * derived `__key`, so Catalyst/AQE pick the physical strategy (sort-merge
  * with both sides shuffled by key; broadcast-hash when one snapshot is
  * small) and nothing ever materializes on the driver. At 100 TB: both
  * snapshots shuffle-partition by `__key` hash — one shuffle each, no
  * driver state. Classification compares each side's packed
  * normalized row ([[RowCodec]]) as ONE codegen'd string equality (r13 — see
  * [[classifyNormalized]] for the byte accounting); the positional
  * per-column compare runs only on UPDATED rows.
  *
  * Output schema: `__key, diff_status, modified_columns, side, <data cols
  * stringified>`. `modified_columns` is a comma-joined list in column order
  * (empty for non-UPDATED rows); `side` is BEFORE/AFTER; NOT_MODIFIED rows
  * are filtered out (reference F3).
  *
  * Duplicate keys (non-unique PK or a separator-less key-concat collision,
  * SURVEY §7.4.1/3): the reference's map insert keeps one nondeterministic
  * winner per key (`extract_data.go:81`); this operator instead keeps every
  * pairing (join multiplicity) — deterministic and information-preserving,
  * with [[statusCounts]] counting distinct keys. The fixture
  * lineitem table has 1,161 duplicate PK pairs, so this path is exercised
  * by the oracle gate, not just documented.
  */
object SnapshotDiff {
  val Inserted = "INSERTED"
  val Deleted = "DELETED"
  val Updated = "UPDATED"
  val NotModified = "NOT_MODIFIED"

  /** [[classifyNormalized]] over raw snapshots, for [[feedCompact]] and
    * [[statusCounts]]: one row per key-pairing with `diff_status`,
    * `modified_columns`, and both sides' [[RowCodec.pack]]ed normalized
    * rows (`__b` / `__a`; consumers unpack on emission). */
  private def classified(before: DataFrame, after: DataFrame, pk: Seq[String]): DataFrame =
    classifyNormalized(Normalize.withKey(before, pk), Normalize.withKey(after, pk))

  /** Same classification over already-normalized inputs (each: data columns
    * stringified + `__key`). */
  private def classifyNormalized(bn: DataFrame, an: DataFrame): DataFrame = {
    val cols = RowCodec.valueCols(bn)
    // r13 (guide §2.3, shuffle fewer bytes): each side packs its normalized
    // columns into ONE string before the exchange instead of shipping n
    // individual string columns — every UnsafeRow field costs an 8-byte
    // offset/size word on top of its bytes, so the packed row cuts the
    // full-outer join's shuffle width ~35% on an 11-column lineitem row
    // (and shrinks the sort-merge sort/spill rows identically). Under the
    // codec's separator assumption, packed-string equality is the
    // element-wise compare, so classification (F2) is ONE codegen'd string
    // compare instead of an n-branch when-tree per row.
    def pack(df: DataFrame, out: String): DataFrame =
      df.select(col(Normalize.KeyCol), RowCodec.pack(cols).as(out))
    val j = pack(bn, "__b").join(pack(an, "__a"), Seq(Normalize.KeyCol), "full_outer")

    // Normalized values are never null, so a null packed side ⇔ the key
    // is absent from that snapshot (the join's null-extension).
    val status = when(col("__b").isNull, Inserted)
      .when(col("__a").isNull, Deleted)
      .when(col("__b") === col("__a"), NotModified)
      .otherwise(Updated)

    // F1 runs ONLY on UPDATED rows (CaseWhen branches evaluate lazily) —
    // the round-4 finding that killed the first packed form.
    j.withColumn("diff_status", status)
      .withColumn("modified_columns",
        when(status === Updated, RowCodec.modifiedColumns(cols, col("__b"), col("__a")))
          .otherwise(lit("")))
  }

  /** Changed-row emission over [[classifyNormalized]]'s join, shared by
    * [[diffNormalized]] and [[feedCompact]]: one row per emitted side,
    * `(__key, diff_status, modified_columns, __r)` with `__r =
    * struct(side, packed)`. UPDATED explodes into its before+after pair
    * (the reference emits before first, `extract_data.go:226-228`; order is
    * carried by `side`); NOT_MODIFIED explodes to zero rows (F3). `side`
    * and `packed` stay in the struct so that each consumer reads them in
    * its own final projection, after the explode. */
  private def changedRows(j: DataFrame): DataFrame = {
    val status = col("diff_status")
    def sideRow(side: String, packed: String): Column =
      struct(lit(side).as("side"), col(packed).as("packed"))
    val rows = when(status === Inserted, array(sideRow("AFTER", "__a")))
      .when(status === Deleted, array(sideRow("BEFORE", "__b")))
      .when(status === Updated, array(sideRow("BEFORE", "__b"), sideRow("AFTER", "__a")))
      .otherwise(array())
    j.select(col(Normalize.KeyCol), status.as("diff_status"), col("modified_columns"),
      explode(rows).as("__r"))
  }

  /** `df` with `__r.packed` unpacked into the named value columns, selected
    * between `head` and `tail` — one codegen split per emitted row. */
  private def unpacked(df: DataFrame, cols: Seq[String], head: Seq[Column],
      tail: Seq[Column]): DataFrame =
    df.withColumn("__vals", RowCodec.unpack(col("__r.packed")))
      .select(head ++ cols.zipWithIndex.map { case (c, i) => col("__vals")(i).as(c) } ++ tail: _*)

  /** Full diff. `before`/`after` must share the same schema (the harness
    * always diffs two snapshots of one table; the reference's column-count-
    * mismatch branch, `extract_data.go:162-171`, is degenerate here).
    * `pk` empty is disallowed — PK-less tables pass all columns (S5). */
  def diff(before: DataFrame, after: DataFrame, pk: Seq[String]): DataFrame =
    diffNormalized(Normalize.withKey(before, pk), Normalize.withKey(after, pk))

  /** Full diff over already-normalized snapshots (data columns stringified +
    * `__key`). */
  private def diffNormalized(bn: DataFrame, an: DataFrame): DataFrame =
    unpacked(changedRows(classifyNormalized(bn, an)), RowCodec.valueCols(bn),
      Seq(col(Normalize.KeyCol), col("diff_status"), col("modified_columns"),
        col("__r.side").as("side")), Nil)

  /** Reference map semantics (`extract_data.go:81`): ONE row per key — a Go
    * map insert keeps a nondeterministic winner among duplicate keys; here
    * the winner is the lexicographic max of the normalized row (struct max,
    * field order = column order), so reruns and retries agree. A plain
    * hash-aggregate with map-side combine: it shares the diff join's hash
    * partitioning on `__key`, so AQE plans no extra shuffle between the
    * dedup and the join. Used by the application loop ([[graft.app.DbDiffApp]]),
    * where `diff(A, A) = ∅` must hold even for duplicate-PK tables; the
    * harness `diff_*` queries keep the information-preserving multiplicity
    * semantics instead. */
  def oneRowPerKey(normalized: DataFrame): DataFrame = {
    val cols = RowCodec.valueCols(normalized)
    normalized.groupBy(col(Normalize.KeyCol))
      .agg(max(struct(cols.map(col): _*)).as("__r"))
      .select(col(Normalize.KeyCol) +: cols.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** [[diff]] under the reference's one-row-per-key map semantics. */
  def diffOneWinner(before: DataFrame, after: DataFrame, pk: Seq[String]): DataFrame =
    diffNormalized(
      oneRowPerKey(Normalize.withKey(before, pk)),
      oneRowPerKey(Normalize.withKey(after, pk)))

  /** SCD2 history build: turn a (before, after) snapshot pair into
    * slowly-changing-dimension validity intervals — the temporal-warehouse
    * consumer of the diff. Version 0 = before, version 1 = after:
    * unchanged keys keep one open row [0, NULL); deleted and updated keys
    * close their before row at [0, 1); inserted and updated keys open
    * their after row at [1, NULL). Single pass over the same one
    * full-outer join as the diff (the classify branches explode in place
    * — no re-join per branch), so the scale budget is identical:
    * one shuffle per side. */
  def scd2(before: DataFrame, after: DataFrame, pk: Seq[String]): DataFrame = {
    val bn = oneRowPerKey(Normalize.withKey(before, pk))
    val an = oneRowPerKey(Normalize.withKey(after, pk))
    val j = classifyNormalized(bn, an)
    val status = col("diff_status")
    // version structs carry the packed side string; the final projection
    // unpacks it
    def ver(packed: Column, from: Long, to: Option[Long]): Column =
      struct(packed.as("packed"),
        lit(from).as("valid_from"),
        to.map(v => lit(v)).getOrElse(lit(null)).cast("long").as("valid_to"))
    val bOpen = ver(col("__b"), 0L, None)
    val bClosed = ver(col("__b"), 0L, Some(1L))
    val aOpen = ver(col("__a"), 1L, None)
    val rows = when(status === NotModified, array(bOpen))
      .when(status === Deleted, array(bClosed))
      .when(status === Updated, array(bClosed, aOpen))
      .otherwise(array(aOpen)) // INSERTED
    unpacked(j.select(col(Normalize.KeyCol), explode(rows).as("__r")), RowCodec.valueCols(bn),
      Seq(col(Normalize.KeyCol)),
      Seq(col("__r.valid_from").as("valid_from"), col("__r.valid_to").as("valid_to")))
  }

  /** MERGE (the write-back direction the reference lacks): reconstruct the
    * after snapshot from `before` + a [[diffOneWinner]] diff. Keys marked
    * DELETED or UPDATED drop their before row (one anti-join), then the
    * AFTER-side rows (INSERTED + UPDATED) union in. Operates in the
    * normalized one-row-per-key domain and returns the normalized after
    * frame — so `applyDiff(A, diffOneWinner(A, B)) == oneRowPerKey(
    * normalize(B))` exactly, which the roundtrip oracle and property spec
    * pin. Scale shape: one key-hashed anti-join plus a union — the same
    * single-shuffle-per-side budget as the diff itself. */
  def applyDiff(before: DataFrame, diffed: DataFrame, pk: Seq[String]): DataFrame = {
    val bn = oneRowPerKey(Normalize.withKey(before, pk))
    val cols = RowCodec.valueCols(bn)
    val gone = diffed.filter(col("diff_status").isin(Deleted, Updated))
      .select(col(Normalize.KeyCol)).distinct()
    val kept = bn.join(gone, Seq(Normalize.KeyCol), "left_anti")
    val incoming = diffed.filter(col("side") === "AFTER")
      .select(cols.map(col) :+ col(Normalize.KeyCol): _*)
    kept.select(cols.map(col) :+ col(Normalize.KeyCol): _*).unionByName(incoming)
  }

  /** Fixed-width change-feed projection of a [[diff]] result: (table, key,
    * status, modified columns, side, md5 row fingerprint). Row payloads
    * travel as 32-byte fingerprints, so feed width is independent of table
    * schema — the shape a multi-table CDC export unions into one stream.
    * The unfused reference for [[feedCompact]], which the `diff_changefeed`
    * harness query runs and `RowCodecSpec` compares against this. */
  def feed(d: DataFrame, tableName: String, cols: Seq[String]): DataFrame =
    d.select(lit(tableName).as("table_name"), col(Normalize.KeyCol),
      col("diff_status"), col("modified_columns"), col("side"),
      RowCodec.fingerprint(RowCodec.pack(cols)).as("row_fp"))

  /** [[diff]]→[[feed]] fused: [[changedRows]] plus the feed projection.
    * Each side's row crosses the join as ONE packed string, and `row_fp`
    * is the md5 of that string ([[RowCodec.fingerprint]]), so no emitted
    * row is unpacked into columns and re-packed. Past the per-table scan
    * and pack, every table's plan is the same narrow shape — the
    * multi-table changefeed's plan-cost fix (round 3: unioning nine wide
    * per-table diffs compiled nine distinct whole-stage-codegen plans).
    *
    * Semantics are exactly [[diff]]'s: same full-outer join on the derived
    * key (duplicate-key multiplicities preserved), same positional string
    * compare, same modified-column list in column order, same
    * BEFORE-then-AFTER emission; as a row multiset it equals
    * `feed(diff(before, after, pk), tableName, cols)`, whose fingerprint
    * re-packs the same values. `diff_changefeed`'s oracle is the
    * per-table wide-diff SQL. */
  def feedCompact(before: DataFrame, after: DataFrame, pk: Seq[String],
      tableName: String): DataFrame =
    changedRows(classified(before, after, pk))
      .select(lit(tableName).as("table_name"), col(Normalize.KeyCol),
        col("diff_status"), col("modified_columns"), col("__r.side").as("side"),
        RowCodec.fingerprint(col("__r.packed")).as("row_fp"))

  /** Diff across a schema change: the snapshots disagree on shape (columns
    * added and/or dropped between them). The reference's branch for this is
    * degenerate — a column-count mismatch marks EVERY column modified
    * (`extract_data.go:162-171`) — so the useful semantics are rebuilt
    * properly: the data diff runs over the column intersection (in
    * before's column order, keeping the positional-compare discipline),
    * and the shape change itself is reported separately by
    * [[schemaDrift]]. The PK must survive the evolution. Plan shape is
    * identical to [[diff]] — the projection prunes the dropped/added
    * columns at the scan. */
  def diffEvolved(before: DataFrame, after: DataFrame, pk: Seq[String]): DataFrame = {
    val afterCols = after.columns.toSet
    val common = before.columns.filter(afterCols).toIndexedSeq
    require(pk.forall(common.contains), s"pk $pk must survive the schema change")
    diff(before.select(common.map(col): _*), after.select(common.map(col): _*), pk)
  }

  /** Catalog-level twin of [[diffEvolved]]: which columns were ADDED /
    * DROPPED between the snapshots (schema metadata, not data — this is
    * driver-side by nature and O(columns)). */
  def schemaDrift(before: DataFrame, after: DataFrame): DataFrame = {
    val spark = before.sparkSession
    import spark.implicits._
    (before.columns.diff(after.columns).toSeq.map((_, "DROPPED")) ++
      after.columns.diff(before.columns).toSeq.map((_, "ADDED")))
      .toDF("column_name", "change")
  }

  /** Three-way merge classification — the version-control operation over
    * snapshots: two branches (`left`, `right`) diverged from a common
    * `base`; classify every key by how the branches reconcile. Each
    * snapshot reduces to (key, row-fingerprint) — the md5
    * [[RowCodec.fingerprint]] of the packed normalized row, so a whole row
    * travels as 32 bytes — then two full-outer joins on `__key` give the
    * presence/equality pattern:
    *
    *   - `LEFT_CHANGE` / `RIGHT_CHANGE`: only one branch touched the key
    *     (update, delete, or insert) — the merge takes that branch;
    *   - `BOTH_SAME`: both branches made the identical change — clean;
    *   - `CONFLICT`: both touched it and disagree — `merged_fp` is NULL,
    *     a policy (or human) must pick.
    *
    * Untouched keys are dropped (the merge IS the change set). At 100 TB:
    * three shuffles of 32-byte fingerprints (one per snapshot), no row
    * data in the joins, no driver state. Keys must be unique
    * per snapshot (run the app loop's one-winner dedup first for
    * duplicate-key tables). */
  def threeWayMerge(base: DataFrame, left: DataFrame, right: DataFrame,
      pk: Seq[String]): DataFrame = {
    val Absent = "<ABSENT>"
    def fp(df: DataFrame, out: String): DataFrame = {
      val n = Normalize.withKey(df, pk)
      n.select(col(Normalize.KeyCol),
        RowCodec.fingerprint(RowCodec.pack(RowCodec.valueCols(n))).as(out))
    }
    val j = fp(base, "__b")
      .join(fp(left, "__l"), Seq(Normalize.KeyCol), "full_outer")
      .join(fp(right, "__r"), Seq(Normalize.KeyCol), "full_outer")
    val bf = coalesce(col("__b"), lit(Absent))
    val lf = coalesce(col("__l"), lit(Absent))
    val rf = coalesce(col("__r"), lit(Absent))
    val status = when(lf === bf && rf === bf, "UNCHANGED")
      .when(rf === bf, "LEFT_CHANGE")
      .when(lf === bf, "RIGHT_CHANGE")
      .when(lf === rf, "BOTH_SAME")
      .otherwise("CONFLICT")
    j.select(col(Normalize.KeyCol), bf.as("base_fp"), lf.as("left_fp"),
        rf.as("right_fp"), status.as("merge_status"),
        when(status === "CONFLICT", lit(null).cast("string"))
          .when(status === "RIGHT_CHANGE", rf)
          .otherwise(lf).as("merged_fp"))
      .filter(col("merge_status") =!= "UNCHANGED")
  }

  /** Checksum lanes of a Merkle bucket summary: given a side's value
    * columns, each lane's name and its per-row 64-bit hash. */
  type Lanes = Seq[String] => Seq[(String, Column)]

  /** One lane, the md5-derived 60-bit [[graft.functions.Hashing.hash64]]
    * of the packed row. DuckDB computes the same hashes, so a summary over
    * this lane is itself oracle-checked (`diff_merkle_dirty`). */
  val Md5Lane: Lanes = cols => Seq("sum" -> graft.functions.Hashing.hash64(RowCodec.pack(cols)))

  /** The production profile: the two xxhash64 lanes of
    * [[RowCodec.fingerprint128]], no MessageDigest on the hot path. Two
    * 60-bit-sum lanes put a false-clean bucket at ~2⁻¹²⁰, negligible at
    * any lake size, where one lane's 2⁻⁶⁰ is not. These sums never
    * surface in an oracle-checked output (the pruned diffs' oracle is the
    * UNPRUNED diff), so no cross-engine hash parity constrains them. */
  val Lanes128: Lanes = cols => {
    val (h1, h2) = RowCodec.fingerprint128(cols)
    Seq("s1" -> h1, "s2" -> h2)
  }

  private def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(graft.functions.Hashing.hash64(key), lit(nBuckets.toLong))

  /** One side's bucket summary: bucket = hash(`__key`) mod nBuckets, and
    * per bucket `rows` plus one column per lane holding that lane's exact
    * decimal sum reduced mod 10¹⁸ — commutative, so partition order and
    * parallelism can't perturb it. A narrow projection and one
    * map-side-combined aggregation; at most nBuckets rows whatever the
    * input size. */
  private def bucketSummary(df: DataFrame, nBuckets: Int, lanes: Lanes): DataFrame = {
    val hs = lanes(RowCodec.valueCols(df)).zipWithIndex
    df.select(bucketOf(col(Normalize.KeyCol), nBuckets).as("bucket") +:
        hs.map { case ((_, h), i) => h.cast("decimal(38,0)").as(s"__h${i + 1}") }: _*)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("rows"), hs.map { case ((name, _), i) =>
        (sum(col(s"__h${i + 1}")) % lit(1000000000000000000L)).cast("long").as(name)
      }: _*)
  }

  /** The dirty buckets of two side summaries: those whose row count or any
    * lane's sum disagrees (a bucket absent on one side reads as zeros).
    * Output `bucket`, then each summary column as its `b_`/`a_` pair. */
  private def dirtyBuckets(b: DataFrame, a: DataFrame): DataFrame = {
    val stats = b.columns.filterNot(_ == "bucket").toSeq
    def side(s: DataFrame, p: String): DataFrame =
      s.select(col("bucket") +: stats.map(c => col(c).as(s"${p}_$c")): _*)
    val pairs = stats.map(c => (s"b_$c", s"a_$c"))
    side(b, "b").join(side(a, "a"), Seq("bucket"), "full_outer")
      .select(col("bucket") +: pairs.flatMap { case (bc, ac) => Seq(bc, ac) }
        .map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      .filter(pairs.map { case (bc, ac) => col(bc) =!= col(ac) }.reduce(_ || _))
  }

  /** Merkle-style bucket summary — the repeat-diff accelerator for very
    * large snapshots. Each side reduces to at most `nBuckets` rows of
    * (count, checksum lanes); a bucket whose row count and every lane sum
    * agree on both sides provably holds no net change worth scanning*, so
    * only the disagreeing ("dirty") buckets need the full-outer-join pass.
    * At 100 TB this is the difference between re-joining the whole lake on
    * every diff cycle and re-joining only the touched fraction: no row
    * data reaches a join, and the summary is KB-sized regardless of input
    * size. (*modulo checksum collisions — the standard anti-entropy trade,
    * cf. Merkle-tree replica repair.)
    *
    * `lanes` picks the checksum profile: [[Md5Lane]] (the default) keeps
    * the summary DuckDB-replayable; the pruned diffs use [[Lanes128]].
    * Output (dirty buckets only): `bucket, b_rows, a_rows`, then `b_<lane>,
    * a_<lane>` per lane — `b_sum, a_sum` for [[Md5Lane]]. Empty ⇔ the
    * snapshots are (checksum-)identical, so `diff(A, A)` prunes to nothing
    * before any join runs. */
  def merkleSummary(bn: DataFrame, an: DataFrame, nBuckets: Int,
      lanes: Lanes = Md5Lane): DataFrame =
    dirtyBuckets(bucketSummary(bn, nBuckets, lanes), bucketSummary(an, nBuckets, lanes))

  /** The diff of the two sides' rows in the dirty buckets of the
    * [[Lanes128]] summary, each side reduced by `dedup` after its prune.
    * The dirty list (at most nBuckets longs, the size class of a
    * broadcast-join build side) is collected to the driver by one eager
    * summary job, and each side prunes with a codegen'd `In`/`InSet` filter
    * before any shuffle of row data. Nothing is persisted, so a standing
    * loop that never clears caches cannot leak them. */
  private def prunedDiff(before: DataFrame, after: DataFrame, pk: Seq[String],
      nBuckets: Int, dedup: DataFrame => DataFrame): DataFrame = {
    val bn = Normalize.withKey(before, pk)
    val an = Normalize.withKey(after, pk)
    val dirty: Seq[Long] = merkleSummary(bn, an, nBuckets, Lanes128).select(col("bucket"))
      .collect().map(_.getLong(0)).toIndexedSeq
    def prune(df: DataFrame): DataFrame =
      dedup(df.filter(bucketOf(col(Normalize.KeyCol), nBuckets).isInCollection(dirty)))
    diffNormalized(prune(bn), prune(an))
  }

  /** [[diff]] restricted to the dirty buckets of [[merkleSummary]] — the
    * pruned repeat-diff. Lossless by construction: every changed key lands
    * in a bucket whose count or checksum disagrees, so the pruned result
    * EQUALS the full diff (the oracle pins exactly that). */
  def merklePrunedDiff(before: DataFrame, after: DataFrame, pk: Seq[String],
      nBuckets: Int): DataFrame =
    prunedDiff(before, after, pk, nBuckets, identity)

  /** [[diffOneWinner]] behind the same prune — the application loop's
    * fast path for repeat diffs. Sound composition: every row's key
    * columns are part of its content, so bucket-checksum equality means
    * the bucket's full row multiset (and hence EVERY key's sub-multiset)
    * is unchanged — those keys cannot produce one-winner diff rows. The
    * dedup runs after the prune, so clean buckets skip the per-key
    * aggregation too, not just the join. */
  def diffOneWinnerPruned(before: DataFrame, after: DataFrame, pk: Seq[String],
      nBuckets: Int): DataFrame =
    prunedDiff(before, after, pk, nBuckets, oneRowPerKey)

  /** Per-key single-row reduction of a one-winner diff: status plus the
    * BEFORE/AFTER rows as nullable structs (null side ⇔ absent). */
  private def keyedDiff(d: DataFrame, cols: Seq[String]): DataFrame = {
    val rowStruct = struct(cols.map(col): _*)
    d.groupBy(col(Normalize.KeyCol))
      .agg(min(col("diff_status")).as("status"), // identical across a key's rows
        max(when(col("side") === "BEFORE", rowStruct)).as("brow"),
        max(when(col("side") === "AFTER", rowStruct)).as("arow"))
  }

  /** CDC-changefeed COMPACTION — compose two consecutive one-winner diffs
    * into the net diff: `composeDiffs(diff(A,B), diff(B,C)) = diff(A,C)`,
    * which the oracle pins by recomputing diff(A,C) directly. The algebra
    * per key: net-before is d1's BEFORE (or d2's when A→B left the key
    * untouched), net-after is d2's AFTER (or d1's when B→C did); a key
    * inserted then deleted nets to NOTHING, updated back to its original
    * nets to NOT_MODIFIED and is dropped, everything else reclassifies
    * from the null pattern. This is how a changelog retention window
    * collapses N days of feeds into one without ever touching the base
    * snapshots: the compose is one key-hashed join of FEED rows — at
    * 100 TB the net of a week of diffs costs the diffs' own size, not a
    * rescan of the lake. */
  def composeDiffs(d1: DataFrame, d2: DataFrame): DataFrame = {
    val meta = Set(Normalize.KeyCol, "diff_status", "modified_columns", "side")
    val cols = d1.columns.filterNot(meta).toIndexedSeq
    val k1 = keyedDiff(d1, cols).select(col(Normalize.KeyCol),
      col("status").as("s1"), col("brow").as("b1"), col("arow").as("a1"))
    val k2 = keyedDiff(d2, cols).select(col(Normalize.KeyCol),
      col("status").as("s2"), col("brow").as("b2"), col("arow").as("a2"))
    val j = k1.join(k2, Seq(Normalize.KeyCol), "full_outer")
      .withColumn("__nb", when(col("s1").isNotNull, col("b1")).otherwise(col("b2")))
      .withColumn("__na", when(col("s2").isNotNull, col("a2")).otherwise(col("a1")))
    val status = when(col("__nb").isNull && col("__na").isNull, lit(null).cast("string"))
      .when(col("__nb").isNull, Inserted)
      .when(col("__na").isNull, Deleted)
      .when(col("__nb") === col("__na"), lit(null).cast("string")) // net no-op
      .otherwise(Updated)
    val modList = concat_ws(",",
      cols.map(c => when(col("__nb")(c) =!= col("__na")(c), lit(c))): _*)
    def sideRow(side: String, src: String): Column =
      struct(lit(side).as("side") +: cols.map(c => col(src)(c).as(c)): _*)
    val rows = when(col("diff_status") === Inserted, array(sideRow("AFTER", "__na")))
      .when(col("diff_status") === Deleted, array(sideRow("BEFORE", "__nb")))
      .otherwise(array(sideRow("BEFORE", "__nb"), sideRow("AFTER", "__na")))
    j.withColumn("diff_status", status)
      .filter(col("diff_status").isNotNull)
      .withColumn("modified_columns",
        when(col("diff_status") === Updated, modList).otherwise(lit("")))
      .select(col(Normalize.KeyCol), col("diff_status"), col("modified_columns"),
        explode(rows).as("__r"))
      .select(Seq(col(Normalize.KeyCol), col("diff_status"), col("modified_columns"),
        col("__r.side").as("side")) ++ cols.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** Per-status distinct-key counts straight off the classification join —
    * no per-row output is built, exploded or re-aggregated. The reference
    * count that `FusedReportSpec` checks [[fusedReport]] against and
    * `DerbyJdbcSpec` counts JDBC snapshots with. Distinct, not plain count: keys
    * need not be unique per snapshot (fixture lineitem has duplicate PKs,
    * and the separator-less key concat can collide — SURVEY §7.4.1/3). */
  def statusCounts(before: DataFrame, after: DataFrame, pk: Seq[String]): DataFrame =
    classified(before, after, pk)
      .filter(col("diff_status") =!= NotModified)
      .groupBy(col("diff_status"))
      .agg(countDistinct(col(Normalize.KeyCol)).as("n_keys"))

  /** Whole-lake report: per-table per-status key counts for MANY tables in
    * ONE aggregation — no join at all.
    *
    * Each side of each table is reduced to `(table, __key, fp, side)` where
    * `fp` is an md5 fingerprint of the full normalized row, then everything
    * unions into a single frame. Per (table, key) the status is a function
    * of three partial aggregates:
    *   - `min(side) = 1`  → key only in after  → INSERTED
    *   - `max(side) = 0`  → key only in before → DELETED
    *   - else `min(fp) ≠ max(fp)` → UPDATED, else NOT_MODIFIED.
    * The fp test is exactly the join semantics under duplicate keys: with
    * both sides present, some before×after pairing differs iff the key's
    * fp multiset holds more than one distinct value (two distinct fps on
    * the same side also force a differing cross pairing).
    *
    * Scale shape vs. N sequential per-table full-outer joins: ONE shuffle
    * of fixed-width ~50-byte rows (not full rows) with map-side combine,
    * plus a second keys-per-status shuffle of N×3 rows. At 100 TB this is
    * the difference between re-shuffling the lake N times and once. */
  def fusedReport(sides: Seq[(String, DataFrame, DataFrame, Seq[String])]): DataFrame = {
    def fpSide(name: String, df: DataFrame, pk: Seq[String], side: Int): DataFrame = {
      val n = Normalize.withKey(df, pk)
      // Row fingerprint = RowCodec.fingerprint128 (128 bits — collision
      // odds stay negligible at any key count, like the md5 this replaces,
      // but with no MessageDigest on the hot path and 16 bytes instead of
      // a 32-char hex string in the shuffle). The oracle never sees this
      // fingerprint: it recomputes the report from full column compares,
      // so the hash choice is pinned by the report's result.
      val (h1, h2) = RowCodec.fingerprint128(RowCodec.valueCols(n))
      // the two lanes stay FLAT longs (r14): min/max over a struct has no
      // fixed-size aggregation buffer, so the (table, key) rollup planned
      // as a SortAggregate — sorting the whole ~50-byte union on the group
      // key. Flat long lanes keep it a two-phase HashAggregate with
      // map-side combine ("2 SortAggregate → 0", plans/r14/diff_report_*).
      n.select(lit(name).as("table_name"), col(Normalize.KeyCol),
        h1.as("__h1"), h2.as("__h2"),
        lit(side).as("__side"))
    }
    val unioned = sides.map { case (name, before, after, pk) =>
      fpSide(name, before, pk, 0).unionByName(fpSide(name, after, pk, 1))
    }.reduce(_.unionByName(_))

    // "some fp differs" ⟺ some LANE's min ≠ max: two distinct (h1, h2)
    // pairs differ in at least one lane, and a constant pair set is
    // constant in both — exactly the old struct min ≠ max test, in flat
    // hash-aggregable longs
    val status = when(col("__min_side") === 1, Inserted)
      .when(col("__max_side") === 0, Deleted)
      .when(col("__min_h1") =!= col("__max_h1") ||
        col("__min_h2") =!= col("__max_h2"), Updated)
      .otherwise(NotModified)

    unioned.groupBy(col("table_name"), col(Normalize.KeyCol))
      .agg(min(col("__side")).as("__min_side"), max(col("__side")).as("__max_side"),
        min(col("__h1")).as("__min_h1"), max(col("__h1")).as("__max_h1"),
        min(col("__h2")).as("__min_h2"), max(col("__h2")).as("__max_h2"))
      .select(col("table_name"), status.as("diff_status"))
      .filter(col("diff_status") =!= NotModified)
      .groupBy(col("table_name"), col("diff_status"))
      .agg(count(lit(1)).as("n_keys"))
  }
}
