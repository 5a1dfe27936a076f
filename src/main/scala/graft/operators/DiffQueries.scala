package graft.operators

import graft.{TableDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Harness registry for the snapshot-diff surface: one named query per
  * reference operator (SURVEY.md §2), each paired with generated DuckDB
  * oracle SQL in [[oracleSql]].
  */
object DiffQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Bucket count for the Merkle repeat-diff queries — shared by the Spark
    * plan and the generated oracle so both partition the keyspace
    * identically. 4096 keeps buckets fine-grained enough that the fixture
    * mutations dirty only a fraction of them (the spec asserts pruning is
    * nontrivial). */
  val MerkleBuckets = 4096

  /** Candidate (childTable, childCol, parentTable, parentCol) pairs for FK
    * discovery — the real FK chain of the fixture schema plus one
    * deliberately-wrong probe pair. */
  val FkCandidates: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_orderkey", "customer", "c_custkey")) // negative probe

  /** Mutated "after" snapshot — executes the shared mutation SQL
    * ([[Mutations]]) over a temp view of the before parquet. */
  def after(spark: SparkSession, sfDir: String, t: TableDef): DataFrame = {
    Tables.load(spark, sfDir, t.name).createOrReplaceTempView(t.name)
    spark.sql(Mutations.afterSql(t.name))
  }

  /** Distribution-drift oracle (shared by the batch query and the
    * streaming twin — one oracle gates both): same explode into
    * (col, bucket, side) rows, same ppm floor-div shares, same integer
    * TVD; `//` on the all-positive operands ≡ Spark's `div`, sums CAST
    * back to BIGINT so DuckDB's HUGEINT promotion never leaks into the
    * compared schema. */
  private def distDriftSqlStr: String =
    s"""WITH aft AS (
       |${Mutations.afterSql("orders")}
       |),
       |buck AS (
       |  SELECT 'o_orderstatus' AS col_name, o_orderstatus AS bucket,
       |         'b' AS side FROM orders
       |  UNION ALL
       |  SELECT 'o_totalprice_band',
       |         CAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS VARCHAR),
       |         'b' FROM orders
       |  UNION ALL
       |  SELECT 'o_orderstatus', o_orderstatus, 'a' FROM aft
       |  UNION ALL
       |  SELECT 'o_totalprice_band',
       |         CAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS VARCHAR),
       |         'a' FROM aft),
       |g AS (
       |  SELECT col_name, bucket,
       |    CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS before_n,
       |    CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS after_n
       |  FROM buck GROUP BY col_name, bucket),
       |t AS (
       |  SELECT *,
       |    CAST(SUM(before_n) OVER (PARTITION BY col_name) AS BIGINT) AS btot,
       |    CAST(SUM(after_n) OVER (PARTITION BY col_name) AS BIGINT) AS atot
       |  FROM g),
       |p AS (
       |  SELECT col_name, bucket, before_n, after_n,
       |    CAST(before_n * 1000000 // btot AS BIGINT) AS before_ppm,
       |    CAST(after_n * 1000000 // atot AS BIGINT) AS after_ppm
       |  FROM t)
       |SELECT col_name, bucket, before_n, after_n, before_ppm, after_ppm,
       |  CAST(abs(before_ppm - after_ppm) AS BIGINT) AS drift_ppm,
       |  CAST(CAST(SUM(abs(before_ppm - after_ppm))
       |      OVER (PARTITION BY col_name) AS BIGINT) // 2 AS BIGINT)
       |    AS col_tvd_ppm
       |FROM p""".stripMargin

  /** The drift monitor's (col_name, bucket) explode over an orders-shaped
    * frame — one categorical column and one fixed-edge numeric band.
    * Stateless projection: shared verbatim by the batch `diff_dist_drift`
    * and its streaming twin (fixed band edges are what make buckets
    * comparable across snapshots, scales, and micro-batches). */
  private[graft] def ordersDriftBuckets(df: DataFrame): DataFrame = df.select(
    explode(array(
      struct(lit("o_orderstatus").as("col_name"),
        col("o_orderstatus").as("bucket")),
      struct(lit("o_totalprice_band").as("col_name"),
        expr("CAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS STRING)")
          .as("bucket")))).as("cb"))
    .select(col("cb.col_name").as("col_name"), col("cb.bucket").as("bucket"))

  /** Integer ppm shares + per-column total-variation distance over the
    * grouped (col_name, bucket, before_n, after_n) histogram frame —
    * windows over a control-plane-sized table at any corpus scale. */
  private[graft] def driftOver(g: DataFrame): DataFrame = {
    val wc = Window.partitionBy(col("col_name"))
    g.withColumn("__btot", sum(col("before_n")).over(wc))
      .withColumn("__atot", sum(col("after_n")).over(wc))
      .withColumn("before_ppm", expr("before_n * 1000000 div __btot"))
      .withColumn("after_ppm", expr("after_n * 1000000 div __atot"))
      .withColumn("drift_ppm", abs(col("before_ppm") - col("after_ppm")))
      .withColumn("__tv", sum(col("drift_ppm")).over(wc))
      .select(col("col_name"), col("bucket"), col("before_n"),
        col("after_n"), col("before_ppm"), col("after_ppm"),
        col("drift_ppm"), expr("__tv div 2").as("col_tvd_ppm"))
  }

  private def diffQ(t: TableDef, pk: Seq[String]): Q = (spark, sfDir) => {
    val before = Tables.load(spark, sfDir, t.name)
    SnapshotDiff.diff(before, after(spark, sfDir, t), pk)
  }

  /** Flagship: composite-key diff of lineitem (SURVEY §7.2 step 1). */
  def flagship(spark: SparkSession, sfDir: String): DataFrame =
    diffQ(Tables.lineitem, Tables.lineitem.pk)(spark, sfDir)

  val queries: Map[String, Q] = {
    val perTable: Map[String, Q] = Tables.diffable.map { t =>
      s"diff_${t.name}" -> diffQ(t, t.pk)
    }.toMap

    perTable ++ Map[String, Q](
      // S5 fallback path: no PK → all columns form the key.
      "diff_region_keyless" -> diffQ(Tables.region, Tables.region.cols),
      // Property: diff(A, A) = ∅.
      "diff_identity_nation" -> ((spark, sfDir) => {
        val before = Tables.load(spark, sfDir, "nation")
        SnapshotDiff.diff(before, Tables.load(spark, sfDir, "nation"), Tables.nation.pk)
      }),
      // Multi-table change report (A-series aggregates over J1 output) —
      // all 9 tables fused into ONE fingerprint aggregation (no joins; see
      // SnapshotDiff.fusedReport for the scale argument).
      "diff_report" -> ((spark, sfDir) => {
        SnapshotDiff.fusedReport(Tables.diffable.map { t =>
          (t.name, Tables.load(spark, sfDir, t.name), after(spark, sfDir, t), t.pk)
        })
      }),
      // Reference map semantics (one deterministic winner per duplicate key,
      // extract_data.go:81) — the application-loop diff mode. lineitem is
      // the table with real duplicate PKs, so this exercises the dedup.
      "diff_lineitem_onewinner" -> ((spark, sfDir) => {
        val t = Tables.lineitem
        val before = Tables.load(spark, sfDir, t.name)
        SnapshotDiff.diffOneWinner(before, after(spark, sfDir, t), t.pk)
      }),
      // Property the app loop depends on: one-winner diff(A, A) = ∅ even
      // with duplicate keys (multiplicity diff is nonempty on lineitem).
      "diff_identity_onewinner" -> ((spark, sfDir) => {
        val t = Tables.lineitem
        SnapshotDiff.diffOneWinner(
          Tables.load(spark, sfDir, t.name), Tables.load(spark, sfDir, t.name), t.pk)
      }),
      // MERGE roundtrip: applying a table's one-winner diff back onto its
      // before snapshot reconstructs the after snapshot exactly — the
      // write-back operator, oracle-pinned against the independently
      // normalized after table.
      "diff_apply_roundtrip" -> ((spark, sfDir) => {
        val t = Tables.orders
        val before = Tables.load(spark, sfDir, t.name)
        val d = SnapshotDiff.diffOneWinner(before, after(spark, sfDir, t), t.pk)
        SnapshotDiff.applyDiff(before, d, t.pk)
      }),
      // SCD2 history build over the diff: validity intervals per key
      // (temporal-warehouse output; see SnapshotDiff.scd2).
      "diff_scd2_orders" -> ((spark, sfDir) => {
        val t = Tables.orders
        SnapshotDiff.scd2(Tables.load(spark, sfDir, t.name), after(spark, sfDir, t), t.pk)
      }),
      // Point-in-time lookup over the SCD2 history: rows whose validity
      // interval covers version 1 — the temporal-warehouse query the
      // history exists to answer (equivalently: the after snapshot,
      // reconstructed purely from intervals). A pushed-down interval
      // predicate over the history frame, no join.
      "diff_scd2_asof" -> ((spark, sfDir) => {
        val t = Tables.orders
        SnapshotDiff.scd2(Tables.load(spark, sfDir, t.name), after(spark, sfDir, t), t.pk)
          .filter(col("valid_from") <= 1 &&
            (col("valid_to").isNull || col("valid_to") > 1))
      }),
      // Per-column drift report over the diff — "which columns changed, how
      // often": explode the modified-columns list of UPDATED rows, count
      // per column, rate against the updated-row total. The scalar total
      // stays lazy via crossJoin(broadcast(agg)) — no driver-side action at
      // plan-construction time.
      "diff_column_drift" -> ((spark, sfDir) => {
        val t = Tables.orders
        val d = SnapshotDiff.diff(
          Tables.load(spark, sfDir, t.name), after(spark, sfDir, t), t.pk)
        val upd = d
          .filter(col("diff_status") === "UPDATED" && col("side") === "BEFORE")
          .select(col("modified_columns"))
        val tot = upd.agg(count(lit(1)).as("n_updated_rows"))
        upd.select(explode(split(col("modified_columns"), ",")).as("col_name"))
          .groupBy(col("col_name")).agg(count(lit(1)).as("n_changed"))
          .crossJoin(broadcast(tot))
          .withColumn("change_rate",
            col("n_changed").cast("double") / col("n_updated_rows"))
      }),
      // Schema-evolution diff: the after snapshot dropped c_mktsegment and
      // added c_tier; the data diff runs over the surviving column
      // intersection (the reference's column-count-mismatch branch marks
      // everything modified — rebuilt properly here), with the shape
      // change itself reported by catalog_schema_drift.
      "diff_schema_evolution" -> ((spark, sfDir) => {
        val t = Tables.customer
        val before = Tables.load(spark, sfDir, t.name)
        before.createOrReplaceTempView(t.name)
        SnapshotDiff.diffEvolved(
          before, spark.sql(Mutations.schemaEvolvedCustomerSql), t.pk)
      }),
      "catalog_schema_drift" -> ((spark, sfDir) => {
        val before = Tables.load(spark, sfDir, "customer")
        before.createOrReplaceTempView("customer")
        SnapshotDiff.schemaDrift(
          before, spark.sql(Mutations.schemaEvolvedCustomerSql))
      }),
      // Unified change feed: every table's diff in ONE stream with a
      // common schema (table, key, status, modified columns, side, row
      // fingerprint) — the CDC export a lake consumer actually subscribes
      // to, where the reference prints per-table report sections. Row
      // payloads travel as md5 fingerprints so the feed is fixed-width
      // regardless of table schema; per-table plans are the same
      // single-full-outer-join diffs, unioned (unions concatenate, no
      // extra shuffle).
      "diff_changefeed" -> ((spark, sfDir) => {
        Tables.diffable.map { t =>
          SnapshotDiff.feedCompact(
            Tables.load(spark, sfDir, t.name), after(spark, sfDir, t), t.pk, t.name)
        }.reduce(_.unionByName(_))
      }),
      // The same before→after transition consumed as a LIVE two-phase CDC
      // stream (flatMapGroupsWithState last-row state, tombstone deletes),
      // reduced to per-(status, side) event counts the batch classifier
      // reproduces — see [[graft.streaming.StreamingDiff.runCdcRawOnce]].
      "stream_cdc" -> ((spark, sfDir) =>
        graft.streaming.StreamingDiff.runCdcRawOnce(spark, sfDir)),
      // Three-way merge: two branches diverged from one base snapshot,
      // classified LEFT_CHANGE / RIGHT_CHANGE / BOTH_SAME / CONFLICT per
      // key (the version-control operation over table snapshots; see
      // SnapshotDiff.threeWayMerge for the 32-byte-fingerprint scale
      // argument). The right branch's mutation populates every class.
      "diff_three_way" -> ((spark, sfDir) => {
        val t = Tables.orders
        val base = Tables.load(spark, sfDir, t.name)
        val left = after(spark, sfDir, t) // registers the temp view too
        val right = spark.sql(Mutations.threeWayRightSql)
        SnapshotDiff.threeWayMerge(base, left, right, t.pk)
      }),
      // CDC-changefeed compaction: two consecutive diffs (A→B, B→C)
      // composed into the net A→C diff WITHOUT touching the snapshots —
      // the oracle recomputes diff(A,C) directly, so the composition
      // algebra (including insert-then-delete vanishing) is hash-gated.
      "diff_compose_chain" -> ((spark, sfDir) => {
        val t = Tables.orders
        val a = Tables.load(spark, sfDir, t.name)
        a.createOrReplaceTempView("orders")
        val b = spark.sql(Mutations.afterSql("orders"))
        b.createOrReplaceTempView("ordb")
        val c = spark.sql(Mutations.gen2OrdersSql)
        SnapshotDiff.composeDiffs(
          SnapshotDiff.diffOneWinner(a, b, t.pk),
          SnapshotDiff.diffOneWinner(b, c, t.pk))
      }),
      // Incremental aggregate maintenance: a grouped count/sum is kept
      // current by folding the diff's change stream into the BEFORE-snapshot
      // aggregate — AFTER-side rows add, BEFORE-side rows subtract (an
      // update of the group key naturally decrements the old group and
      // increments the new one). The oracle recomputes the same aggregate
      // directly over the after table, so the query proves
      // base ⊕ delta = recompute. At 100 TB this is the point of keeping
      // diffs at all: the base aggregate is group-cardinality-sized and the
      // delta pass touches only changed rows, vs a full rescan. Sums stay
      // in exact decimal until the final cast, so ⊕ is order-independent.
      "diff_incremental_agg" -> ((spark, sfDir) => {
        val t = Tables.orders
        val before = Tables.load(spark, sfDir, t.name)
        val d = SnapshotDiff.diff(before, after(spark, sfDir, t), t.pk)
        val dec = (c: Column) => c.cast("decimal(38,4)")
        val base = before.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("b_rows"), sum(dec(col("o_totalprice"))).as("b_price"))
        val delta = d // diff values are normalized strings; parse back losslessly
          .withColumn("w", when(col("side") === "AFTER", 1L).otherwise(-1L))
          .groupBy(col("o_orderstatus"))
          .agg(sum(col("w")).as("d_rows"),
            sum(col("w") * dec(col("o_totalprice"))).as("d_price"))
        base.join(delta, Seq("o_orderstatus"), "full_outer")
          .select(col("o_orderstatus"),
            (coalesce(col("b_rows"), lit(0L)) + coalesce(col("d_rows"), lit(0L))).as("n_rows"),
            (coalesce(col("b_price"), dec(lit(0))) + coalesce(col("d_price"), dec(lit(0))))
              .cast("double").as("sum_price"))
          .filter(col("n_rows") > 0)
      }),
      // Merkle-style repeat-diff accelerator, part 1: the bucket-checksum
      // summary (dirty buckets only). Each side reduces to ≤4096 fixed-width
      // rows before ANY join of row data — the anti-entropy pass that lets a
      // 100 TB lake re-diff by scanning summaries instead of rows.
      "diff_merkle_dirty" -> ((spark, sfDir) => {
        val t = Tables.part
        SnapshotDiff.merkleSummary(
          Normalize.withKey(Tables.load(spark, sfDir, t.name), t.pk),
          Normalize.withKey(after(spark, sfDir, t), t.pk),
          MerkleBuckets)
      }),
      // Part 2: the full diff restricted to dirty buckets. Lossless pruning —
      // the oracle is the UNPRUNED full diff, so any key escaping its bucket
      // or any checksum false-negative fails the hash gate.
      "diff_merkle_pruned" -> ((spark, sfDir) => {
        val t = Tables.part
        SnapshotDiff.merklePrunedDiff(
          Tables.load(spark, sfDir, t.name), after(spark, sfDir, t), t.pk, MerkleBuckets)
      }),
      // Incremental JOIN-view maintenance — the other half of IVM next to
      // diff_incremental_agg: a materialized orders⋈customer view is kept
      // current from the diff's change stream alone. Keys the diff marks
      // DELETED/UPDATED anti-join out of the base view; the AFTER-side
      // delta rows join customer and union in — so the per-cycle join
      // work is Δ-sized, never a re-join of the lake, and the oracle pins
      // the maintained view equal to a direct join over the after
      // snapshot. All in the normalized string domain the diff speaks.
      "diff_incremental_join" -> ((spark, sfDir) => {
        val t = Tables.orders
        val bn = Normalize.withKey(Tables.load(spark, sfDir, t.name), t.pk)
        val cn = Normalize.stringify(
          Tables.load(spark, sfDir, "customer")
            .select(col("c_custkey"), col("c_name")))
        val d = SnapshotDiff.diffOneWinner(
          Tables.load(spark, sfDir, t.name), after(spark, sfDir, t), t.pk)
        val proj = Seq("o_orderkey", "o_totalprice", "c_custkey", "c_name")
        val base = bn.join(cn, col("o_custkey") === col("c_custkey"))
          .select(col(Normalize.KeyCol) +: proj.map(col): _*)
        val gone = d.filter(col("diff_status")
            .isin(SnapshotDiff.Deleted, SnapshotDiff.Updated))
          .select(col(Normalize.KeyCol)).distinct()
        val kept = base.join(gone, Seq(Normalize.KeyCol), "left_anti")
        val fresh = d.filter(col("side") === "AFTER")
          .join(cn, col("o_custkey") === col("c_custkey"))
          .select(col(Normalize.KeyCol) +: proj.map(col): _*)
        kept.unionByName(fresh).drop(Normalize.KeyCol)
      }),
      // One-pass per-column data-profile (the audit a differ runs before
      // trusting a snapshot): null count, exact distinct count, min/max per
      // column, long format. ONE scan — the multi-column DISTINCTs plan as
      // a single Expand (+1 shuffle), not N rescans; at 100 TB the exact
      // distinct swaps for approx_count_distinct and the Expand disappears,
      // but the oracle gate needs the exact form.
      "profile_orders" -> ((spark, sfDir) => profile(Tables.orders)(spark, sfDir)),
      "profile_customer" -> ((spark, sfDir) => profile(Tables.customer)(spark, sfDir)),
      // Declarative data-quality rule report — the audit gate a pipeline
      // runs before trusting a snapshot enough to diff or train on it:
      // PK uniqueness, value-domain and range rules, and FK existence,
      // each a (rule, n_checked, n_violations) row. All row-level rules
      // evaluate in ONE aggregation pass over the scan (conditional sums —
      // no per-rule rescans); the FK rule is one anti-join against the
      // parent keys. The fixture's lineitem duplicate PKs make pk_unique
      // report REAL violations, so the report is exercised, not
      // vacuously green.
      "dq_rules_report" -> ((spark, sfDir) => {
        val li = Tables.load(spark, sfDir, "lineitem")
        val o = Tables.load(spark, sfDir, "orders").select(col("o_orderkey"))
        val base = li.agg(
          count(lit(1)).as("n"),
          countDistinct(col("l_orderkey"), col("l_linenumber")).as("nd"),
          sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("v_qty"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
            .otherwise(0L)).as("v_disc"),
          sum(when(!col("l_returnflag").isin("R", "A", "N"), 1L)
            .otherwise(0L)).as("v_flag"))
        val rowRules = base.select(expr(
          "stack(4, " +
            "'pk_unique', n, n - nd, " +
            "'quantity_positive', n, v_qty, " +
            "'discount_in_range', n, v_disc, " +
            "'returnflag_domain', n, v_flag) AS (rule, n_checked, n_violations)"))
        // FK leg as ONE outer-join aggregate (n_checked and the orphan
        // count from the same pass — no second lineitem scan); o_orderkey
        // is unique so the outer join cannot multiply probe rows
        val fk = li.select(col("l_orderkey"))
          .join(o.select(col("o_orderkey"), lit(1L).as("__p")),
            col("l_orderkey") === col("o_orderkey"), "left_outer")
          .agg(count(lit(1)).as("n_checked"),
            sum(when(col("__p").isNull, 1L).otherwise(0L)).as("n_violations"))
          .select(lit("fk_orders_exists").as("rule"), col("n_checked"),
            col("n_violations"))
        rowRules.unionByName(fk)
      }),
      // FK-relationship DISCOVERY (schema inference over data, not
      // metadata): for candidate (child, parent) column pairs, the
      // inclusion coefficient |distinct(child) ∩ distinct(parent)| /
      // |distinct(child)| — ≈1000‰ means the pair behaves like a real FK,
      // low values reject it (the negative probe pair is included to show
      // discrimination, not just confirmation). Each pair is two distinct
      // reductions + one outer-join aggregate of the DISTINCT key sets
      // (never row×row); reported in exact per-mille so no floating-point
      // rendering is involved. At 100 TB the distinct sets swap for KMV
      // sketches ([[graft.functions.KmvSketch]]) with identical structure.
      "catalog_fk_discovery" -> ((spark, sfDir) => {
        def pair(childT: String, cc: String, parentT: String, pc: String): DataFrame = {
          val cd = Tables.load(spark, sfDir, childT).select(col(cc)).distinct()
          val pd = Tables.load(spark, sfDir, parentT).select(col(pc)).distinct()
          cd.join(pd, cd(cc) === pd(pc), "left_outer")
            .agg(count(lit(1)).as("n_child_distinct"),
              sum(when(pd(pc).isNotNull, 1L).otherwise(0L)).as("n_included"))
            .select(lit(s"$childT.$cc").as("child_col"),
              lit(s"$parentT.$pc").as("parent_col"),
              col("n_child_distinct"), col("n_included"),
              expr("n_included * 1000 div n_child_distinct")
                .as("inclusion_permille"))
        }
        FkCandidates.map { case (ct, cc, pt, pc) => pair(ct, cc, pt, pc) }
          .reduce(_.unionByName(_))
      }),
      // DISTRIBUTION drift between snapshots — the statistical companion to
      // diff_column_drift (which counts per-column cell changes over keyed
      // rows): compare each column's VALUE HISTOGRAM before vs after,
      // keyless, the way a data-observability monitor watches a feed whose
      // rows can't be matched (or whose volume makes a keyed diff
      // unnecessary for the question "did the distribution move?"). One
      // categorical column (o_orderstatus — the mutation's 'X' status is a
      // NEW category, the classic emergent-value alert) and one banded
      // numeric (o_totalprice in fixed 25k bands — fixed edges, so bands
      // are comparable across snapshots and scales). Per-bucket shares in
      // exact ppm (integer floor-div) and per-column total-variation
      // distance Σ|p−q|/2 — the bounded [0,1e6] drift score a monitor
      // thresholds on, integer-exact end to end (no float PSI/KL logs to
      // drift in the last ulp). Plan: one scan per side exploding both
      // (col, bucket) pairs, ONE shuffle on the ≤(#cols·#buckets)-row key
      // space, windows over the tiny grouped frame — at 100 TB the
      // histogram aggregation is map-side-combined to a control-plane
      // frame and nothing wide ever moves.
      "diff_dist_drift" -> ((spark, sfDir) => {
        val t = Tables.orders
        def buckets(df: DataFrame, side: String) =
          ordersDriftBuckets(df).withColumn("side", lit(side))
        driftOver(
          buckets(Tables.load(spark, sfDir, t.name), "b")
            .unionByName(buckets(after(spark, sfDir, t), "a"))
            .groupBy(col("col_name"), col("bucket"))
            .agg(sum(when(col("side") === "b", 1L).otherwise(0L)).as("before_n"),
              sum(when(col("side") === "a", 1L).otherwise(0L)).as("after_n")))
      }),
      // the SAME drift monitor as a STRUCTURED STREAM: the after-side feed
      // arrives incrementally, the mutation is applied as stateless
      // per-row fan-out on the stream, and the histogram is a streaming
      // aggregation whose state is the ≤(#cols·#buckets)-row bucket table
      // — the natural deployment for "did today's feed move?" monitoring.
      // Final table spec-pinned equal to the batch query and gated by the
      // same oracle row ([[graft.streaming.StreamingDrift]]).
      "stream_dist_drift" -> ((spark, sfDir) =>
        graft.streaming.StreamingDrift.runDistDriftOnce(spark, sfDir)),
      // P1+P2+P3 normalization exposed directly.
      "snapshot_normalize_customer" -> ((spark, sfDir) =>
        Normalize.withKey(Tables.load(spark, sfDir, "customer"), Tables.customer.pk)),
      // S3/S4 catalog surface: static table+PK metadata.
      "catalog_tables" -> ((spark, _) => {
        import spark.implicits._
        Tables.all.map(t => (t.name, t.pk.mkString(","), t.cols.length))
          .toDF("table_name", "pk_columns", "n_columns")
      }),
      // A1/A2: global row counts per table (distributed count, no driver maps).
      "catalog_counts" -> ((spark, sfDir) => {
        Tables.all.map { t =>
          Tables.load(spark, sfDir, t.name)
            .agg(count(lit(1)).as("n_rows"))
            .select(lit(t.name).as("table_name"), col("n_rows"))
        }.reduce(_.unionByName(_))
      })
    )
  }

  /** One-pass per-column profile (long format): null count, exact distinct
    * count, min/max rendered as strings (the same stringification the diff
    * itself relies on, so cross-engine rendering is already proven by the
    * `diff_*` gates). */
  private def profile(t: TableDef)(spark: SparkSession, sfDir: String): DataFrame = {
    // One group-then-reduce branch per column, unioned (r14). The old
    // single-agg form used N countDistinct over different columns, which
    // plans as Expand (N+1 row copies of the whole table) into THREE
    // SortAggregates — sort aggregation, because min/max over string
    // columns have no fixed-size buffer — sorting the multiplied rows on a
    // 7-part key twice. Per column, grouping by the value first gives the
    // same exact numbers from a two-phase HASH aggregation over distinct
    // values only: n_distinct = non-null group count, n_nulls = the null
    // group's row count, min/max over group keys ≡ min/max over rows
    // (computed on the NATIVE type, stringified after, exactly as before).
    // All branches share one union plan, so Spark schedules the per-column
    // scans concurrently; no Expand, no wide sort, shuffle = distinct
    // values per column (plan: plans/r14/profile_orders_{before,after}).
    val df = Tables.load(spark, sfDir, t.name)
    t.cols.map { c =>
      val v = col("__v")
      val (lo, hi) = if (df.schema(c).dataType == StringType)
        (stringExtreme(v, max = false), stringExtreme(v, max = true)) else (min(v), max(v))
      df.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__n"))
        .agg(
          coalesce(sum(when(col("__v").isNull, col("__n"))), lit(0L)).as("n_nulls"),
          count(col("__v")).as("n_distinct"),
          lo.cast("string").as("min_val"),
          hi.cast("string").as("max_val"))
        .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"),
          col("min_val"), col("max_val"))
    }.reduce(_.unionByName(_))
  }

  /** min (or max) of a string column's UTF-8 bytes — Spark's string
    * order — as a typed aggregate: its object buffer plans as
    * ObjectHashAggregate, where the built-in string min/max, having no
    * fixed-size buffer, plans as SortAggregate. */
  private case class StringExtreme(child: Expression, max: Boolean,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[UTF8String]] with UnaryLike[Expression] {
    override def dataType: DataType = child.dataType
    override def nullable: Boolean = true
    override def createAggregationBuffer(): Array[UTF8String] = new Array[UTF8String](1)
    private def offer(b: Array[UTF8String], v: UTF8String): Array[UTF8String] = {
      if (v != null && (b(0) == null || (v.binaryCompare(b(0)) > 0) == max))
        b(0) = v.copy() // input rows reuse their memory
      b
    }
    override def update(b: Array[UTF8String], row: InternalRow): Array[UTF8String] =
      offer(b, child.eval(row).asInstanceOf[UTF8String])
    override def merge(b: Array[UTF8String], o: Array[UTF8String]): Array[UTF8String] =
      offer(b, o(0))
    override def eval(b: Array[UTF8String]): Any = b(0)
    // empty = no value seen; else a 1 byte, then the value's bytes
    override def serialize(b: Array[UTF8String]): Array[Byte] =
      if (b(0) == null) Array.emptyByteArray else 1.toByte +: b(0).getBytes
    override def deserialize(a: Array[Byte]): Array[UTF8String] =
      Array(if (a.isEmpty) null else UTF8String.fromBytes(a, 1, a.length - 1))
    override def withNewMutableAggBufferOffset(o: Int): StringExtreme =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): StringExtreme =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): StringExtreme = copy(child = c)
  }

  private def stringExtreme(c: Column, max: Boolean): Column =
    ColumnShim.column(StringExtreme(ColumnShim.expression(c), max).toAggregateExpression())

  private def profileSql(t: TableDef): String =
    t.cols.map(c =>
      s"""SELECT '$c' AS col_name,
         |  COUNT(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_val,
         |  CAST(MAX($c) AS VARCHAR) AS max_val
         |FROM ${t.name}""".stripMargin).mkString("\nUNION ALL\n")

  val oracleSql: Map[String, String] = {
    val perTable = Tables.diffable.map { t =>
      s"diff_${t.name}" -> DiffOracle.diffSql(t, Mutations.afterSql(t.name), t.pk)
    }.toMap

    perTable ++ Map(
      "diff_region_keyless" ->
        DiffOracle.diffSql(Tables.region, Mutations.afterSql("region"), Tables.region.cols),
      "diff_identity_nation" -> DiffOracle.identitySql(Tables.nation),
      "diff_lineitem_onewinner" -> DiffOracle.diffSql(
        Tables.lineitem, Mutations.afterSql("lineitem"), Tables.lineitem.pk, oneWinner = true),
      "diff_identity_onewinner" -> DiffOracle.diffSql(
        Tables.lineitem, "SELECT * FROM lineitem", Tables.lineitem.pk, oneWinner = true),
      "diff_report" ->
        DiffOracle.reportSql(Tables.diffable.map(t => t -> Mutations.afterSql(t.name))),
      "stream_cdc" ->
        DiffOracle.cdcCountsSql(Tables.orders, Mutations.afterSql("orders"), Tables.orders.pk),
      "snapshot_normalize_customer" ->
        DiffOracle.normalizedSelect("customer", Tables.customer, Tables.customer.pk),
      "diff_apply_roundtrip" -> DiffOracle.normalizedOneWinnerSql(
        Tables.orders, Mutations.afterSql("orders"), Tables.orders.pk),
      "diff_scd2_orders" -> DiffOracle.scd2Sql(
        Tables.orders, Mutations.afterSql("orders"), Tables.orders.pk),
      "diff_column_drift" -> DiffOracle.driftSql(
        Tables.orders, Mutations.afterSql("orders"), Tables.orders.pk),
      "diff_scd2_asof" -> {
        val hist = DiffOracle.scd2Sql(
          Tables.orders, Mutations.afterSql("orders"), Tables.orders.pk)
        s"""SELECT * FROM (
           |$hist
           |) h WHERE valid_from <= 1 AND (valid_to IS NULL OR valid_to > 1)""".stripMargin
      },
      "catalog_tables" -> {
        val rows = Tables.all
          .map(t => s"('${t.name}', '${t.pk.mkString(",")}', ${t.cols.length})")
          .mkString(", ")
        s"SELECT * FROM (VALUES $rows) AS t(table_name, pk_columns, n_columns)"
      },
      "catalog_counts" -> Tables.all
        .map(t => s"SELECT '${t.name}' AS table_name, COUNT(*) AS n_rows FROM ${t.name}")
        .mkString("\nUNION ALL\n"),
      // direct recompute over the after snapshot — the incremental fold
      // must land on exactly this
      "diff_incremental_agg" ->
        s"""WITH after_t AS (
           |${Mutations.afterSql("orders")}
           |)
           |SELECT o_orderstatus, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
           |FROM after_t GROUP BY o_orderstatus""".stripMargin,
      "diff_merkle_dirty" -> DiffOracle.merkleSummarySql(
        Tables.part, Mutations.afterSql("part"), Tables.part.pk, MerkleBuckets),
      // pruning is lossless ⇒ the pruned diff must equal the full diff
      "diff_merkle_pruned" ->
        DiffOracle.diffSql(Tables.part, Mutations.afterSql("part"), Tables.part.pk),
      "profile_orders" -> profileSql(Tables.orders),
      "profile_customer" -> profileSql(Tables.customer),
      // the maintained view must equal a direct join over the after snapshot
      "diff_incremental_join" ->
        s"""WITH after_t AS (
           |${Mutations.afterSql("orders")}
           |), an AS (
           |${DiffOracle.normalizedSelect("after_t", Tables.orders, Tables.orders.pk)}
           |), cn AS (
           |  SELECT COALESCE(CAST(c_custkey AS VARCHAR), '<NULL>') AS c_custkey,
           |         COALESCE(CAST(c_name AS VARCHAR), '<NULL>') AS c_name
           |  FROM customer)
           |SELECT an.o_orderkey, an.o_totalprice, cn.c_custkey, cn.c_name
           |FROM an JOIN cn ON an.o_custkey = cn.c_custkey""".stripMargin,
      // net diff(A, C) recomputed directly — what the composition must equal
      "diff_compose_chain" -> DiffOracle.diffSql(Tables.orders,
        s"""WITH ordb AS (
           |${Mutations.afterSql("orders")}
           |)
           |${Mutations.gen2OrdersSql}""".stripMargin,
        Tables.orders.pk, oneWinner = true),
      "catalog_fk_discovery" -> FkCandidates.map { case (ct, cc, pt, pc) =>
        s"""SELECT '$ct.$cc' AS child_col, '$pt.$pc' AS parent_col,
           |  COUNT(*) AS n_child_distinct,
           |  CAST(SUM(CASE WHEN p.pk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_included,
           |  CAST(SUM(CASE WHEN p.pk IS NOT NULL THEN 1 ELSE 0 END) * 1000
           |    // COUNT(*) AS BIGINT) AS inclusion_permille
           |FROM (SELECT DISTINCT $cc AS ck FROM $ct) c
           |LEFT JOIN (SELECT DISTINCT $pc AS pk FROM $pt) p ON c.ck = p.pk""".stripMargin
      }.mkString("\nUNION ALL\n"),
      "dq_rules_report" ->
        """WITH b AS (
          |  SELECT COUNT(*) AS n,
          |    COUNT(DISTINCT (l_orderkey, l_linenumber)) AS nd,
          |    SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS v_qty,
          |    SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS v_disc,
          |    SUM(CASE WHEN l_returnflag NOT IN ('R','A','N') THEN 1 ELSE 0 END) AS v_flag
          |  FROM lineitem),
          |fk AS (
          |  SELECT COUNT(*) AS v FROM lineitem l
          |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
          |  WHERE o.o_orderkey IS NULL)
          |SELECT 'pk_unique' AS rule, n AS n_checked, CAST(n - nd AS BIGINT) AS n_violations FROM b
          |UNION ALL SELECT 'quantity_positive', n, CAST(v_qty AS BIGINT) FROM b
          |UNION ALL SELECT 'discount_in_range', n, CAST(v_disc AS BIGINT) FROM b
          |UNION ALL SELECT 'returnflag_domain', n, CAST(v_flag AS BIGINT) FROM b
          |UNION ALL SELECT 'fk_orders_exists', (SELECT n FROM b), CAST(v AS BIGINT) FROM fk""".stripMargin,
      // distribution drift replayed: same explode into (col, bucket, side)
      // rows, same ppm floor-div shares, same integer TVD — `//` on the
      // all-positive operands ≡ Spark's `div`, sums CAST back to BIGINT.
      "diff_dist_drift" -> distDriftSqlStr,
      // the streaming twin converges to the identical table — one oracle
      // gates both (the stream_neardup convention)
      "stream_dist_drift" -> distDriftSqlStr,
      "diff_three_way" -> DiffOracle.threeWaySql(
        Tables.orders, Mutations.afterSql("orders"), Mutations.threeWayRightSql,
        Tables.orders.pk),
      "diff_schema_evolution" -> DiffOracle.diffSql(
        Tables.customer.copy(cols = Tables.customer.cols.filterNot(_ == "c_mktsegment")),
        Mutations.schemaEvolvedCustomerSql, Tables.customer.pk),
      "catalog_schema_drift" ->
        """SELECT * FROM (VALUES ('c_mktsegment', 'DROPPED'), ('c_tier', 'ADDED'))
          |AS t(column_name, change)""".stripMargin,
      "diff_changefeed" -> Tables.diffable.map { t =>
        val inner = DiffOracle.diffSql(t, Mutations.afterSql(t.name), t.pk)
        s"""SELECT '${t.name}' AS table_name, __key, diff_status, modified_columns, side,
           |  ${RowCodec.fingerprintSql(t.cols)} AS row_fp
           |FROM (
           |$inner
           |) ${t.name}_feed""".stripMargin
      }.mkString("\nUNION ALL\n")
    )
  }
}
