package graft.operators

import graft.CacheScope
import graft.Tables
import graft.functions.QuantizedVec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators over the `events` table: tumbling-window
  * aggregation and gap-based sessionization — the batch forms of the
  * Structured Streaming pipeline in `graft.streaming` (same column logic,
  * checkable by the DuckDB oracle; the streaming variant adds watermarking).
  *
  * Determinism: bucket identity and session gaps are computed on
  * microsecond epochs (exact integers); value sums go through
  * DECIMAL(38,4). Window orderings carry `event_id` as a unique tiebreaker.
  */
object EventsQueries {
  type Q = (SparkSession, String) => DataFrame

  val SessionGapMicros: Long = 30L * 60 * 1000000 // 30 min

  /** Exact global `row_number` over an arbitrary total order WITHOUT a
    * single-partition sort: range-repartition on the sort keys (partition
    * i holds a contiguous, ordered key range), rank within each partition
    * with a pid-PARTITIONED window (parallel), then add each partition's
    * global offset. The offset frame is the per-partition count — at most
    * `spark.sql.shuffle.partitions` rows, bounded by construction, so its
    * cumulative-sum window is control-plane work, not a data-scaling
    * sort. RangePartitioner samples with partition-index-derived seeds,
    * so boundaries (and therefore ranks) are deterministic for a fixed
    * input lineage. `order` must be a total order (carry a unique
    * tiebreaker) for the rank to be well-defined.
    */
  def globalRowNumber(df: DataFrame, order: Seq[Column], out: String): DataFrame = {
    val parted = df.repartitionByRange(order: _*)
      .withColumn("__gpid", spark_partition_id())
    val offsets = parted.groupBy(col("__gpid"))
      .agg(count(lit(1)).as("__gcnt"))
      .withColumn("__goff",
        sum(col("__gcnt")).over(Window.orderBy(col("__gpid"))) - col("__gcnt"))
      .select(col("__gpid"), col("__goff"))
    val lw = Window.partitionBy(col("__gpid")).orderBy(order: _*)
    parted.withColumn("__glrn", row_number().over(lw).cast("long"))
      .join(broadcast(offsets), "__gpid")
      .withColumn(out, col("__goff") + col("__glrn"))
      .drop("__gpid", "__glrn", "__goff")
  }

  /** Gap-based sessionization: session starts where the per-user gap
    * exceeds 30 min; session_id = running count of session starts. */
  def sessionize(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
    events
      .withColumn("__is_new", when(gap.isNull.or(gap > SessionGapMicros), 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__is_new")).over(run))
      .drop("__is_new")
  }

  /** Single-task window-sort budget (rows): the point where one key's
    * entire ordered history stops being a job a single task should sort,
    * and [[changepoint]] switches from the plain per-type window to the
    * chunked prefix-sum decomposition ([[changepointSkew]]). The round-5
    * measurement put the crossover well above the harness's 2M rows/type
    * at sf10 (the decomposition's ~6 full-data shuffles cost 2× the 5-way
    * sort there), so the budget is set a decade above that; at 100 TB one
    * hot key blows any budget and the skew branch is the only plan that
    * finishes. A fixed constant: callers that need another crossover pass
    * their own budget to [[changepoint]]. */
  val ChangepointSortBudget: Long = 20000000L

  /** The crossover probe of [[changepoint]] — registry entries keep it in the
    * [[CacheScope]] session store via `sessionCount`, rebuilt only
    * when the fixture's files change. Coalesce guards the empty-frame case
    * (max over zero groups is NULL), defaulting to the plain branch. */
  def maxPerKey(events: DataFrame): Long =
    events.groupBy(col("event_type")).count()
      .agg(coalesce(max(col("count")), lit(0L))).head().getLong(0)

  /** Offline changepoint detection per event type over (event_type, ts,
    * event_id, value): the split index t maximizing the |prefix mean −
    * suffix mean| gap — see the `events_changepoint` entry for the exact-
    * arithmetic design.
    *
    * AUTO-SELECTED plan: a cheap per-key count probe ([[maxPerKey]], one
    * columnar scan of `event_type`, collecting one row — the same class of
    * stats AQE reads) gives `maxKnown`, the largest key's row count. The
    * plain per-type window runs while it fits `sortBudget`, and the
    * chunked prefix-sum decomposition beyond it. Both branches are
    * bit-equal by construction (shared typed scorer; `EventsSkewSpec` pins
    * equality), so the switch is a pure physical-plan decision — exactly
    * the judgment AQE makes for skewed joins but does not yet make for
    * skewed windows. */
  def changepoint(events: DataFrame, sortBudget: Long, maxKnown: Long): DataFrame =
    if (maxKnown <= sortBudget) changepointPlain(events)
    else changepointSkew(events)

  private val d18 = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,0)")

  private def eventsVi(events: DataFrame): DataFrame = events
    .select(col("event_type"), col("ts"), col("event_id"),
      floor(col("value") * 10000 + 0.5).cast("long").as("vi"))

  /** Shared scoring + top-1 pick over (event_type, event_id, t, st, n, sn).
    * Inputs are normalized to identical types (long / decimal(28,0)) so the
    * plain and skew branches produce byte-identical frames. The pick window
    * is rank-1 — Catalyst's WindowGroupLimit keeps per-partition top-1
    * map-side, so it never concentrates a key's full history in one task
    * regardless of which branch fed it. */
  private def scorePick(prepared: DataFrame): DataFrame = {
    val scored = prepared
      .select(col("event_type"), col("event_id"),
        col("t").cast("long").as("t"), col("st").cast("decimal(28,0)").as("st"),
        col("n").cast("long").as("n"), col("sn").cast("decimal(28,0)").as("sn"))
      .filter(col("t") < col("n"))
      .withColumn("score", abs(d18(col("n")) * col("st") - d18(col("t")) * col("sn")))
    val wPick = Window.partitionBy(col("event_type"))
      .orderBy(col("score").desc, col("t"))
    scored.withColumn("__rn", row_number().over(wPick)).filter(col("__rn") === 1)
      .select(col("event_type"), col("n"), col("t").as("split_idx"),
        col("event_id").as("split_event_id"),
        (col("score").cast("double") /
          (col("t") * (col("n") - col("t"))).cast("double") / 10000.0).as("mean_gap"))
  }

  /** Plain branch: per-type window — task count = type count (5 tasks
    * sorting 2M rows each at sf10, ~19s: the plan's dominant term but
    * linear per decade, and 2× cheaper than the decomposition's shuffles
    * at this scale — the measured round-5 trade that set the budget). */
  def changepointPlain(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    scorePick(eventsVi(events)
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("st", sum(d18(col("vi"))).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sn", sum(d18(col("vi"))).over(wAll)))
  }

  /** Skew branch: a prefix-sum decomposition of the running window, so no
    * window partition holds a whole type's history. Each type's timeline
    * splits into day chunks (monotone in the (ts, event_id) order); the
    * running count t and running sum st compute within (type, day) —
    * parallelism = type × day, partition size ≤ the busiest single day —
    * plus a per-chunk offset cumulated over the SMALL (type, day) frame;
    * n / sn are one aggregate row per type, joined back. Exact
    * integer/decimal arithmetic end to end makes the decomposition
    * bit-equal to the plain window. */
  def changepointSkew(events: DataFrame): DataFrame = {
    val base = eventsVi(events).withColumn("__chunk", date_trunc("day", col("ts")))
    val w1o = Window.partitionBy(col("event_type"), col("__chunk"))
      .orderBy(col("ts"), col("event_id"))
    val within = base
      .withColumn("__t_w", row_number().over(w1o).cast("long"))
      .withColumn("__st_w", sum(d18(col("vi"))).over(w1o))
    val wOff = Window.partitionBy(col("event_type")).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base
      .groupBy(col("event_type"), col("__chunk"))
      .agg(count(lit(1)).as("__cn"), sum(d18(col("vi"))).as("__cs"))
      .withColumn("__t_off", coalesce(sum(col("__cn")).over(wOff), lit(0L)))
      .withColumn("__st_off",
        coalesce(sum(col("__cs")).over(wOff), lit(0).cast("decimal(28,0)")))
      .select(col("event_type"), col("__chunk"), col("__t_off"), col("__st_off"))
    val totals = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(d18(col("vi"))).as("sn"))
    scorePick(within
      .join(offsets, Seq("event_type", "__chunk")) // co-partitions with w1o's shuffle
      .join(broadcast(totals), Seq("event_type"))
      .withColumn("t", col("__t_w") + col("__t_off"))
      .withColumn("st", col("__st_w") + col("__st_off")))
  }

  val queries: Map[String, Q] = Map(
    // Offline changepoint detection per event type: the split index t that
    // maximizes the |prefix mean − suffix mean| gap. The comparison is done
    // on the CROSS-MULTIPLIED score |n·S_t − t·S_n| (the mean gap times
    // t·(n−t), algebraically identical ordering) so candidate ranking runs
    // entirely in exact integer/decimal arithmetic: values scale to exact
    // longs (×10⁴), prefix sums accumulate in DECIMAL(18,0) (envelope:
    // |S| < 10¹⁸ holds through ~10⁹ rows/group at the fixture's value
    // range), and the n·S products stay inside the 37-digit decimal
    // product both engines compute exactly. Doubles appear only in the
    // reported mean_gap, where both engines divide identical exact inputs.
    // One window pass per group + a size-1 top-k — at scale the argmax is
    // WindowGroupLimit-pruned map-side before the shuffle.
    "events_changepoint" -> ((spark, sfDir) => {
      val ev = Tables.load(spark, sfDir, "events")
      changepoint(ev, ChangepointSortBudget,
        CacheScope.sessionCount("events_maxkey", sfDir, spark)(maxPerKey(ev)))
    }),
    // Tumbling 5-minute windows via the native window() operator; the
    // epoch-aligned start matches DuckDB's time_bucket.
    "events_tumbling" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "events")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(38,4)")).cast("double").as("total_value"))
        .select(col("window.start").as("bucket_start"), col("event_type"),
          col("n_events"), col("total_value"))),
    // The SAME tumbling aggregation as a real Structured Streaming query
    // (readStream → watermark → window → Complete-mode memory sink, run to
    // completion): Complete mode retains every window in the state store,
    // so the final table equals the batch answer exactly and the one
    // DuckDB oracle pins both. Registered here (not only spec-pinned) so
    // the state-store aggregation path has a bench-recorded number.
    "stream_tumbling" -> ((spark, sfDir) =>
      graft.streaming.EventStreams.runTumblingRawOnce(spark, sfDir)),
    // The sliding-window twin, run the same way: every event lands in two
    // windows, so this times the state store holding ~2x the live groups.
    "stream_sliding" -> ((spark, sfDir) =>
      graft.streaming.EventStreams.runSlidingRawOnce(spark, sfDir)),
    // Rolling 1-hour per-user aggregates via a TIME-VALUED RANGE frame
    // (each row's frame is [ts − 1h, ts] by timestamp value, not row
    // count — irregular event spacing makes ROWS frames wrong here).
    // Ordering on the microsecond epoch keeps the frame arithmetic in
    // exact integers in both engines; ties share a frame, so no
    // tiebreaker is needed for determinism. One shuffle on user_id.
    "events_rolling_1h" -> ((spark, sfDir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000, Window.currentRow)
      Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          count(lit(1)).over(w).as("n_events_1h"),
          sum(col("value").cast("decimal(38,4)")).over(w)
            .cast("double").as("value_1h"))
    }),
    // Native session_window() aggregation — Spark's own merging-interval
    // session operator (the same one the streaming path uses with a
    // watermark), next to the hand-rolled gap sessionization above. Note
    // the boundary difference, pinned by the oracle: session_window merges
    // events while the gap is STRICTLY UNDER 30 min (windows [t, t+30m)
    // must overlap), where `sessionize` keeps gaps of exactly 30 min
    // together. One aggregation, keyed (user, session) — no window
    // function, so at scale it's a plain hash-agg after one shuffle.
    "events_session_window" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(38,4)")).cast("double").as("total_value"))
        .select(col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("user_id"), col("n_events"), col("total_value"))),
    // Sequence-pattern matching with NEGATION (MATCH_RECOGNIZE's
    // "A then B with no C between" shape): users whose first signup is
    // followed by a purchase with no error in the gap. Each pattern edge
    // is a conditional-min aggregate keyed on user_id — same
    // co-partitioned join chain as the funnel, no per-user array
    // materialization, no driver state.
    "events_pattern_match" -> ((spark, sfDir) => {
      val e = Tables.load(spark, sfDir, "events")
      val su = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_signup"))
      val er = e.filter(col("event_type") === "error")
        .join(su, "user_id").filter(col("ts") > col("t_signup"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_err"))
      val win = su.join(er, Seq("user_id"), "left_outer")
      val clean = e.filter(col("event_type") === "purchase")
        .join(win, "user_id")
        .filter(col("ts") > col("t_signup") &&
          (col("t_err").isNull || col("ts") < col("t_err")))
        .select(col("user_id")).distinct()
      su.agg(count(lit(1)).as("n_users"))
        .select(lit("signup").as("stage"), col("n_users"))
        .unionByName(clean.agg(count(lit(1)).as("n_users"))
          .select(lit("signup>purchase_no_error").as("stage"), col("n_users")))
    }),
    // Statistical outlier detection: per-type z-scores from EXACT moments —
    // count/sum/sum-of-squares go through decimal (order-independent), so
    // mean and stddev are the same IEEE doubles in both engines and the
    // |z| > 3 classification is deterministic. One aggregation + one
    // broadcast join of the 5-row stats frame back onto the scan.
    "events_zscore_outliers" -> ((spark, sfDir) => {
      val e = Tables.load(spark, sfDir, "events")
      val dec8 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,8)")
      val st = e.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(dec8(col("value"))).cast("double").as("s1"),
          sum(dec8(col("value") * col("value"))).cast("double").as("s2"))
        .select(col("event_type"), col("n"),
          (col("s1") / col("n")).as("mean_value"),
          sqrt(col("s2") / col("n") -
            (col("s1") / col("n")) * (col("s1") / col("n"))).as("std_value"))
      e.join(broadcast(st), "event_type")
        .filter(abs((col("value") - col("mean_value")) / col("std_value")) > lit(3.0))
        .groupBy(col("event_type"), col("n"), col("mean_value"), col("std_value"))
        .agg(count(lit(1)).as("n_outliers"))
    }),
    // Ordered funnel (view → click → purchase): each stage keeps the first
    // qualifying event STRICTLY AFTER the previous stage's time. Every
    // join/aggregate keys on user_id, so the whole funnel is co-partitioned
    // after one shuffle (AQE reuses the exchange); nothing touches the
    // driver. MIN over timestamps is exact and order-free.
    "events_funnel" -> ((spark, sfDir) => {
      val e = Tables.load(spark, sfDir, "events")
      def firstAfter(etype: String, prev: DataFrame, prevCol: String, outCol: String) =
        e.filter(col("event_type") === etype)
          .join(prev, "user_id")
          .filter(col("ts") > col(prevCol))
          .groupBy(col("user_id")).agg(min(col("ts")).as(outCol))
      val tv = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val tc = firstAfter("click", tv, "t_view", "t_click")
      val tp = firstAfter("purchase", tc, "t_click", "t_purchase")
      tv.agg(count(lit(1)).as("n_users")).select(lit("view").as("stage"), col("n_users"))
        .unionByName(tc.agg(count(lit(1)).as("n_users"))
          .select(lit("view>click").as("stage"), col("n_users")))
        .unionByName(tp.agg(count(lit(1)).as("n_users"))
          .select(lit("view>click>purchase").as("stage"), col("n_users")))
    }),
    // Weekly cohort retention: cohort = a user's first active week (integer
    // week index from a fixed origin — no engine-specific week-truncation
    // semantics), then distinct active users per (cohort, offset). Two
    // keyed aggregations and one user-keyed join; all exact integers.
    "events_retention" -> ((spark, sfDir) => {
      val e = Tables.load(spark, sfDir, "events")
        .select(col("user_id"),
          expr("CAST(datediff(ts, DATE'2024-01-01') div 7 AS BIGINT)").as("wk"))
        .distinct()
      val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      e.join(cohort, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),
    // DAU / rolling-7-day WAU per active day, with NO distinct-over-
    // sliding-window: each distinct (user, day) row is exploded into the
    // 7 day-buckets it contributes to (a bounded 7× expansion of an
    // already-deduplicated frame), then both measures are plain distinct
    // counts. Integer day indexing from a fixed origin sidesteps engine
    // date-arithmetic differences (the events_retention trick).
    "events_dau_wau" -> ((spark, sfDir) => {
      val ud = Tables.load(spark, sfDir, "events")
        .select(col("user_id"),
          expr("CAST(datediff(ts, DATE'2024-01-01') AS BIGINT)").as("day"))
        .distinct()
        .transform(CacheScope.cached) // feeds both the DAU aggregate and the WAU explode
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("day"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day")) // inner: report active days only
        .select(col("day"), col("dau"), col("wau"))
    }),
    // sliding windows: each event lands in length/slide = 2 overlapping
    // buckets — Spark's window() expands rows before one hash aggregate;
    // the oracle replicates the same two bucket starts per event
    "events_sliding" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(38,4)")).cast("double").as("total_value"))
        .select(col("window.start").as("bucket_start"), col("event_type"),
          col("n_events"), col("total_value"))),
    "events_sessionize" -> ((spark, sfDir) =>
      sessionize(Tables.load(spark, sfDir, "events"))
        .select(col("user_id"), col("event_id"), col("session_id"))),
    // Path mining: the 20 most-travelled 3-step event-type paths. Two
    // leads over the per-user timeline ((ts, event_id) is a unique
    // ordering) build the path string in ONE window pass — no self-joins,
    // no sequence explosion; then a hash aggregate and top-k. At 100 TB
    // the window shuffles once on user_id and the path-count aggregate
    // shuffles only distinct path strings.
    "events_paths" -> ((spark, sfDir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.load(spark, sfDir, "events")
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("__n1"),
          lead(col("event_type"), 2).over(w).as("__n2"))
        .filter(col("__n1").isNotNull && col("__n2").isNotNull)
        .select(concat_ws(">", col("event_type"), col("__n1"), col("__n2")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    }),
    "events_session_stats" -> ((spark, sfDir) =>
      sessionize(Tables.load(spark, sfDir, "events"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"),
          sum(col("value").cast("decimal(38,4)")).cast("double").as("total_value"))),
    // AS-OF join: each click matched to the user's latest view at-or-before
    // it. Spark has no asof operator and the naive form is an inequality
    // join (quadratic per user); the scale-true plan is UNION the two
    // event kinds and take a running last-view window — ONE shuffle on
    // user_id, linear scan per user, no range explosion. The oracle is
    // DuckDB's native ASOF LEFT JOIN over the same deduped view stream.
    // Last-touch attribution (the marketing-analytics staple): each
    // purchase is attributed to the user's most recent click at-or-before
    // it, but only within a 6-hour window — outside it the purchase is
    // organic (NULL attribution). Same union + running-last shape as the
    // as-of join: one user_id shuffle, linear per user, no inequality
    // join. Gap arithmetic is exact microsecond-epoch integers.
    "events_attribution" -> ((spark, sfDir) => {
      val ev = Tables.load(spark, sfDir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("ts"), lit(0).as("__kind"), col("click_id"),
          lit(null).cast("long").as("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("__kind"),
          lit(null).cast("long").as("click_id"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("__kind"), coalesce(col("event_id"), col("click_id")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val windowMs = 6L * 3600 * 1000
      clicks.unionByName(purchases)
        .withColumn("__last", last(when(col("__kind") === 0,
          struct(col("click_id"), col("ts").as("click_ts"))), ignoreNulls = true).over(w))
        .filter(col("__kind") === 1)
        .withColumn("gap_ms",
          expr("(unix_micros(ts) - unix_micros(__last.click_ts)) div 1000"))
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"),
          when(col("gap_ms") <= windowMs, col("__last.click_id")).as("click_id"),
          when(col("gap_ms") <= windowMs, col("gap_ms")).as("gap_ms"))
    }),
    // A/B experiment readout: users deterministically hash-routed to two
    // variants (the SAME portable md5 routing as the train/val split —
    // assignment is reproducible anywhere), then a Welch z-statistic on
    // purchase values. One aggregation pass: per-variant n/Σx/Σx² in
    // exact decimal (order-independent), means/variances/z in doubles
    // with IDENTICAL expression shape in both engines.
    "events_ab_test" -> ((spark, sfDir) => {
      val d8 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,8)")
      val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
      val p = Tables.load(spark, sfDir, "events")
        .filter(col("event_type") === "purchase")
        .withColumn("variant",
          graft.functions.Hashing.hash64(col("user_id").cast("string")) % 2)
      val m = p.agg(
        count(when(col("variant") === 0, 1)).as("n_a"),
        count(when(col("variant") === 1, 1)).as("n_b"),
        sum(when(col("variant") === 0, d8(col("value")))).as("sa"),
        sum(when(col("variant") === 1, d8(col("value")))).as("sb"),
        sum(when(col("variant") === 0, d8(col("value") * col("value")))).as("ssa"),
        sum(when(col("variant") === 1, d8(col("value") * col("value")))).as("ssb"))
      m.select(col("n_a"), col("n_b"),
          (dbl(col("sa")) / col("n_a")).as("mean_a"),
          (dbl(col("sb")) / col("n_b")).as("mean_b"),
          ((dbl(col("ssa")) - dbl(col("sa")) * dbl(col("sa")) / col("n_a")) /
            (col("n_a") - 1)).as("var_a"),
          ((dbl(col("ssb")) - dbl(col("sb")) * dbl(col("sb")) / col("n_b")) /
            (col("n_b") - 1)).as("var_b"))
        .withColumn("z_welch",
          (col("mean_a") - col("mean_b")) /
            sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")))
    }),
    "events_asof_join" -> ((spark, sfDir) => {
      val ev = Tables.load(spark, sfDir, "events")
      // one view per (user, ts): makes the at-or-before winner unique, so
      // both engines agree on ties (max event_id wins via max_by)
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"),
          expr("max_by(value, event_id)").as("view_value"))
        .select(col("user_id"), col("ts"), lit(0).as("__kind"),
          col("view_id"), col("view_value"),
          lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(1).as("__kind"),
          lit(null).cast("long").as("view_id"), lit(null).cast("double").as("view_value"),
          col("event_id"), col("value"))
      // views sort before clicks at equal ts (__kind 0 < 1): at-or-before
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("__kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      views.unionByName(clicks)
        .withColumn("__asof",
          last(when(col("__kind") === 0,
            struct(col("view_id"), col("view_value"))), ignoreNulls = true).over(w))
        .filter(col("__kind") === 1)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("__asof.view_id").as("view_id"), col("__asof.view_value").as("view_value"))
    }),
    // Range join: events matched to OVERLAPPING value bands (each value
    // hits 2-3 of the 125 bands [4i, 4i+10)) — a genuine inequality join,
    // planned as a bucketized EQUI-join by [[RangeJoin.bucketized]]: no
    // broadcast-nested-loop, no quadratic pair enumeration (scale notes on
    // the operator). The band table is generated, not read, so the oracle
    // derives the identical table with DuckDB's range().
    "events_range_join" -> ((spark, sfDir) => {
      val bands = spark.range(0, 125).toDF("band_id")
        .withColumn("lo", col("band_id").cast("double") * 4.0)
        .withColumn("hi", col("band_id").cast("double") * 4.0 + 10.0)
      val ev = Tables.load(spark, sfDir, "events")
      RangeJoin.bucketized(ev, bands, "value", "lo", "hi", 4.0)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(38,4)")).cast("double").as("sum_value"))
    }),
    // Semi-structured payloads: JSON path extraction out of the props
    // column (codegen'd get_json_object — stays a narrow projection, so at
    // scale the parse runs at scan parallelism and only the small
    // aggregate shuffles).
    "events_json_extract" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))),
    // Per-user time-interval join: every (click, view-from-the-same-user-
    // within-the-preceding-6-hours) pair. Planned by
    // [[RangeJoin.bucketized]] with user_id as an extra equi-key (bucket
    // width = the interval length, so each view interval spans ≤ 2
    // buckets): one (user, bucket)-keyed equi-join instead of a
    // nested-loop over time predicates.
    "events_interval_join" -> ((spark, sfDir) => {
      val ev = Tables.load(spark, sfDir, "events")
      val IntervalUs = 21600000000L // 6 hours
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("c_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          unix_micros(col("ts")).as("lo"),
          (unix_micros(col("ts")) + IntervalUs).as("hi"))
      RangeJoin.bucketized(clicks, views, "c_us", "lo", "hi",
          IntervalUs.toDouble, extraKeys = Seq("user_id"))
        .select(col("user_id"), col("click_id"), col("view_id"))
    }),
    // Z-order layout probe: the Morton value ([[graft.functions.ZOrder]])
    // of (value band, hour-of-epoch) — the clustering key a lakehouse
    // writer would range-partition + sort by so footer min/max stats prune
    // on either dimension. The query surfaces the curve itself (top-100 by
    // z-value) so the oracle pins the interleave arithmetic bit-for-bit.
    "layout_zorder" -> ((spark, sfDir) => {
      val ev = Tables.load(spark, sfDir, "events")
      val zx = least(floor(col("value") / 2.0), lit(255.0)).cast("long")
      val zy = (expr("unix_micros(ts) div 3600000000") % 256).cast("long")
      ev.select(col("event_id"), zx.as("zx"), zy.as("zy"),
          graft.functions.ZOrder.zorder2(zx, zy, 8).as("zval"))
        .orderBy(col("zval"), col("event_id")).limit(100)
    }),
    // Exact distributed quantiles per group — rank arithmetic over one
    // sort, no interpolation (both engines pick the value at rank
    // ceil(p·n), so the result is a real data value and engine-exact;
    // approx_percentile sketches differ across engines by construction).
    "events_value_quantiles" -> ((spark, sfDir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      val n = Window.partitionBy(col("event_type"))
      def pick(p: Double) =
        max(when(col("__rn") === greatest(lit(1L), ceil(lit(p) * col("__n")).cast("long")),
          col("value"))).as(s"p${(p * 100).toInt}")
      Tables.load(spark, sfDir, "events")
        .withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__n", count(lit(1)).over(n))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), pick(0.5), pick(0.9), pick(0.99))
    }),
    // Robust outlier detection via median absolute deviation: two exact
    // rank-median passes (the same rank arithmetic as the quantile
    // queries — real data values, engine-exact, no sketch), each a
    // per-type window + aggregate; the 5-row median/MAD frames broadcast
    // back onto the scan. The |dev| > 3·MAD cut is immune to the extreme
    // values that inflate a z-score's stddev.
    "events_mad_outliers" -> ((spark, sfDir) => {
      val e = Tables.load(spark, sfDir, "events")
      def rankMedian(df: DataFrame, valueCol: String, outName: String) = {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col(valueCol), col("event_id"))
        val n = Window.partitionBy(col("event_type"))
        df.withColumn("__rn", row_number().over(w).cast("long"))
          .withColumn("__n", count(lit(1)).over(n))
          .groupBy(col("event_type"))
          .agg(max(when(
            col("__rn") === greatest(lit(1L), ceil(lit(0.5) * col("__n")).cast("long")),
            col(valueCol))).as(outName))
      }
      val med = rankMedian(e, "value", "med")
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("absdev", abs(col("value") - col("med")))
      val mad = rankMedian(dev, "absdev", "mad")
      dev.join(broadcast(mad), "event_type")
        .filter(col("absdev") > lit(3.0) * col("mad"))
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n_outliers"))
    }),
    // RFM (recency/frequency/monetary) user segmentation: one keyed
    // aggregate collapses events to a per-user frame, then ntile(5) scores
    // over that frame. The scores are EXACT ntile buckets but computed
    // WITHOUT an unpartitioned window (which would sort the whole per-user
    // frame — 10⁹ users at scale — in one task, three times): each metric
    // gets a distributed global rank via [[globalRowNumber]] (range
    // repartition → per-partition window → broadcast partition-offset
    // join), and the bucket is closed-form ntile arithmetic over
    // (rank, N). Every ordering carries user_id as the unique tiebreaker
    // so both engines assign identical buckets; PlanQualitySpec gates
    // that no single-partition window survives in the plan.
    "events_rfm" -> ((spark, sfDir) => {
      val e = Tables.load(spark, sfDir, "events")
      val per = e.groupBy(col("user_id")).agg(
        max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(38,4)")).cast("double").as("monetary"))
      val tot = e.agg(max(unix_micros(col("ts"))).as("__gmax"),
        count_distinct(col("user_id")).as("__nu"))
      val base = per.crossJoin(broadcast(tot))
        .withColumn("recency_days",
          expr("CAST((__gmax - last_us) div 86400000000 AS BIGINT)"))
        .transform(CacheScope.cached) // three ranking passes scan it
      // ntile(k) over a total order assigns bucket sizes ⌈N/k⌉ to the
      // first N mod k buckets and ⌊N/k⌋ to the rest; with the exact
      // global rank in hand the bucket is pure integer arithmetic.
      // Double division is exact here: rank/N ≤ 2⁵³ and the quotient's
      // distance to the nearest wrong integer ≥ 1/(q+1) ≫ the ~1e-15
      // absolute division error.
      def ntileOf(rn: Column, n: Column, k: Int): Column = {
        val q = floor(n / k).cast("long")
        val r = (n % k).cast("long")
        val headRows = (q + lit(1L)) * r // rows covered by the ⌈N/k⌉ buckets
        when(rn <= headRows, floor((rn - 1) / (q + lit(1L))).cast("long") + 1)
          .otherwise(r + floor((rn - headRows - 1) / q).cast("long") + 1)
      }
      def score(df: DataFrame, c: String, out: String): DataFrame =
        globalRowNumber(df, Seq(col(c).desc, col("user_id").asc), "__rn")
          .withColumn(out, ntileOf(col("__rn"), col("__nu"), 5))
          .drop("__rn")
      val scored = score(score(score(base,
        "last_us", "r_score"), "frequency", "f_score"), "monetary", "m_score")
      scored.select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"))
    }),
    // First-order Markov transition matrix over each user's event-type
    // sequence: lag(1) per user (one user-keyed sort window), then a count
    // per (prev, next) pair and a row-normalized probability via a window
    // over the tiny transition frame. All counts are exact integers; p is
    // one IEEE division of the same integers in both engines.
    "events_markov_transitions" -> ((spark, sfDir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val t = Tables.load(spark, sfDir, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .select(col("prev_type"), col("event_type").as("next_type"))
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n_transitions"))
      t.withColumn("p", col("n_transitions").cast("double") /
        sum(col("n_transitions")).over(Window.partitionBy(col("prev_type"))))
    }),
    // Sparse→dense time-series gap filling: a per-user DAILY grid spanning
    // each user's active range (sequence + explode — rows generated at
    // executor parallelism, never on the driver), left-joined against the
    // observed daily totals, missing days carried forward by a running
    // last-non-null window. Grid size is Σ per-user spans, not
    // users × global-range; every shuffle (daily agg, grid join, fill
    // window) is keyed on user_id so AQE reuses one co-partitioning.
    "events_gapfill" -> ((spark, sfDir) => {
      val daily = Tables.load(spark, sfDir, "events")
        .select(col("user_id"),
          expr("CAST(datediff(ts, DATE'2024-01-01') AS BIGINT)").as("day"),
          col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("value").cast("decimal(38,4)")).cast("double").as("day_value"))
      val grid = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("__d0"), max(col("day")).as("__d1"))
        .select(col("user_id"),
          explode(sequence(col("__d0"), col("__d1"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left_outer")
        .withColumn("filled_value", last(col("day_value"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("day"), col("filled_value"),
          col("day_value").isNotNull.as("is_observed"))
    }),
    // Fixed-width value histogram per event type: bucket identity is exact
    // integer floor-division, bucket stats are count/min/max/distinct —
    // no floating summation anywhere, so every cell is engine-exact. One
    // hash aggregate; the expand for the distinct count is the only
    // second pass.
    "events_histogram" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "events")
        .groupBy(col("event_type"),
          floor(col("value") / 50.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_events"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          countDistinct(col("user_id")).as("n_users"))),
    // Winsorized statistics (outlier-robust cleaning): clip every value to
    // the exact P05/P95 rank cutoffs (the same rank-arithmetic machinery
    // as events_value_quantiles — real data values, engine-exact), then
    // decimal-exact moments over the clipped column. The cutoffs frame is
    // 5 rows → broadcast back onto the scan.
    "events_winsorized_stats" -> ((spark, sfDir) => {
      val e = Tables.load(spark, sfDir, "events")
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      val n = Window.partitionBy(col("event_type"))
      def pick(p: Double, as: String) =
        max(when(col("__rn") === greatest(lit(1L), ceil(lit(p) * col("__n")).cast("long")),
          col("value"))).as(as)
      val cuts = e
        .withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__n", count(lit(1)).over(n))
        .groupBy(col("event_type"))
        .agg(pick(0.05, "lo"), pick(0.95, "hi"))
      val clipped = greatest(least(col("value"), col("hi")), col("lo"))
      e.join(broadcast(cuts), "event_type")
        .groupBy(col("event_type"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n_events"),
          sum(clipped.cast("decimal(38,8)")).cast("double").as("winsorized_sum"),
          sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
            .otherwise(0L)).as("n_clipped"))
    }),
    // Seasonal-baseline forecasting with a BACKTEST — the ops-monitoring
    // primitive behind "is today's metric abnormal for this hour": the
    // per-(type, hour-of-day) mean over a training window becomes the
    // forecast for a held-out test window, and the report is the exact
    // integer MAE of that forecast. Values quantize to micro-units
    // ([[QuantizedVec.quantized]]) so means (floor division) and absolute
    // errors are engine-exact; the train/test cut derives from MAX(day)
    // lazily (broadcast scalar frame, no driver action). One aggregation
    // per side + a broadcast-sized baseline join.
    "events_seasonal_forecast" -> ((spark, sfDir) => {
      val ev = seasonalBucketed(Tables.load(spark, sfDir, "events"))
        .select(col("event_type"), col("day"), col("hod"), col("q"))
        .crossJoin(broadcast(
          seasonalBucketed(Tables.load(spark, sfDir, "events"))
            .agg((max(col("day")) - 1L).as("__cut"))))
        .transform(CacheScope.cached) // train + test both scan the bucketed frame
      val baseline = ev.filter(col("day") < col("__cut"))
        .groupBy(col("event_type"), col("hod"))
        .agg(expr("SUM(q) DIV COUNT(1)").as("forecast_micro"))
      ev.filter(col("day") >= col("__cut"))
        .join(broadcast(baseline), Seq("event_type", "hod"))
        .select(col("event_type"), abs(col("q") - col("forecast_micro")).as("err"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_test"),
          expr("SUM(err) DIV COUNT(1)").as("mae_micro"),
          max(col("err")).as("max_err_micro"))
    })
  )

  /** (type, day, hour-of-day, micro-unit value) bucketing of the
    * seasonal-forecast backtest: its train/test cut, baseline and test
    * side derive from the same columns. */
  def seasonalBucketed(events: DataFrame): DataFrame = events.select(
    col("*"),
    expr("CAST(datediff(ts, DATE'2024-01-01') AS BIGINT)").as("day"),
    expr("(unix_micros(ts) div 3600000000) % 24").as("hod"),
    QuantizedVec.quantized(col("value")).as("q"))

  private val sessionizeSql: String =
    s"""SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |FROM (
       |  SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > $SessionGapMicros
       |                 THEN 1 ELSE 0 END AS is_new
       |  FROM (
       |    SELECT *, LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
       |    FROM events) t1) t2""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "events_changepoint" ->
      """WITH w1 AS (
        |  SELECT event_type, event_id,
        |    CAST(ROW_NUMBER() OVER wo AS BIGINT) AS t,
        |    SUM(CAST(CAST(floor(value * 10000 + 0.5) AS BIGINT) AS DECIMAL(18,0))) OVER wo AS st,
        |    COUNT(*) OVER wa AS n,
        |    SUM(CAST(CAST(floor(value * 10000 + 0.5) AS BIGINT) AS DECIMAL(18,0))) OVER wa AS sn
        |  FROM events
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY ts, event_id),
        |         wa AS (PARTITION BY event_type)),
        |scored AS (
        |  SELECT *, abs(CAST(n AS DECIMAL(18,0)) * st - CAST(t AS DECIMAL(18,0)) * sn) AS score
        |  FROM w1 WHERE t < n),
        |pick AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY score DESC, t) AS rn
        |  FROM scored)
        |SELECT event_type, CAST(n AS BIGINT) AS n, t AS split_idx,
        |  event_id AS split_event_id,
        |  CAST(score AS DOUBLE) / CAST(t * (n - t) AS DOUBLE) / 10000.0 AS mean_gap
        |FROM pick WHERE rn = 1""".stripMargin,
    "events_paths" ->
      """WITH p AS (
        |  SELECT event_type,
        |    LEAD(event_type, 1) OVER w AS n1,
        |    LEAD(event_type, 2) OVER w AS n2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || n1 || '>' || n2 AS path, COUNT(*) AS n
        |FROM p WHERE n1 IS NOT NULL AND n2 IS NOT NULL
        |GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin,
    "events_rolling_1h" ->
      """SELECT event_id, user_id, ts,
        |  COUNT(*) OVER w AS n_events_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(38,4))) OVER w AS DOUBLE) AS value_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "events_session_window" ->
      s"""WITH g AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= $SessionGapMicros
         |         THEN 1 ELSE 0 END AS brk
         |  FROM (SELECT user_id, ts, value,
         |          LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
         |        FROM events) t),
         |s AS (
         |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM g)
         |SELECT MIN(ts) AS session_start,
         |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         |  user_id, COUNT(*) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
         |FROM s GROUP BY user_id, sid""".stripMargin,
    "events_tumbling" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY bucket_start, event_type""".stripMargin,
    // identical oracle: the Complete-mode streaming run must reproduce the
    // batch tumbling aggregation bit-for-bit
    "stream_tumbling" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY bucket_start, event_type""".stripMargin,
    // identical oracle to events_sliding: the Complete-mode streaming run
    // must reproduce the batch sliding aggregation bit-for-bit
    "stream_sliding" ->
      """WITH b AS (
        |  SELECT event_type, value,
        |         unnest([time_bucket(INTERVAL '5 minutes', ts),
        |                 time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'])
        |           AS bucket_start
        |  FROM events)
        |SELECT bucket_start, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
        |FROM b GROUP BY bucket_start, event_type""".stripMargin,
    "events_pattern_match" ->
      """WITH su AS (
        |  SELECT user_id, MIN(ts) AS t_signup FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |er AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_err
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'error' AND e.ts > su.t_signup
        |  GROUP BY e.user_id),
        |win AS (
        |  SELECT su.user_id, t_signup, t_err
        |  FROM su LEFT JOIN er ON su.user_id = er.user_id),
        |clean AS (
        |  SELECT DISTINCT e.user_id
        |  FROM events e JOIN win ON e.user_id = win.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > win.t_signup
        |    AND (win.t_err IS NULL OR e.ts < win.t_err))
        |SELECT 'signup' AS stage, COUNT(*) AS n_users FROM su
        |UNION ALL SELECT 'signup>purchase_no_error', COUNT(*) FROM clean""".stripMargin,
    "events_zscore_outliers" ->
      """WITH st AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(38,8))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value * value AS DECIMAL(38,8))) AS DOUBLE) AS s2
        |  FROM events GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n, s1 / n AS mean_value,
        |         sqrt(s2 / n - (s1 / n) * (s1 / n)) AS std_value
        |  FROM st)
        |SELECT m.event_type, m.n, m.mean_value, m.std_value,
        |       COUNT(*) AS n_outliers
        |FROM events e JOIN m ON e.event_type = m.event_type
        |WHERE abs((e.value - m.mean_value) / m.std_value) > 3.0
        |GROUP BY 1, 2, 3, 4""".stripMargin,
    "events_funnel" ->
      """WITH tv AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |tc AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM events e JOIN tv ON e.user_id = tv.user_id
        |  WHERE e.event_type = 'click' AND e.ts > tv.t_view GROUP BY e.user_id),
        |tp AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM events e JOIN tc ON e.user_id = tc.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > tc.t_click GROUP BY e.user_id)
        |SELECT 'view' AS stage, COUNT(*) AS n_users FROM tv
        |UNION ALL SELECT 'view>click', COUNT(*) FROM tc
        |UNION ALL SELECT 'view>click>purchase', COUNT(*) FROM tp""".stripMargin,
    "events_dau_wau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         CAST(datediff('day', DATE '2024-01-01', ts) AS BIGINT) AS day
        |  FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
        |wau AS (
        |  SELECT day, COUNT(*) AS wau FROM (
        |    SELECT DISTINCT user_id, day + offs AS day
        |    FROM ud, unnest(range(0, 7)) AS t(offs)) c
        |  GROUP BY day)
        |SELECT day, dau, wau FROM dau JOIN wau USING (day)""".stripMargin,
    "events_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |         CAST(datediff('day', DATE '2024-01-01', ts) // 7 AS BIGINT) AS wk
        |  FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM a GROUP BY user_id)
        |SELECT c.cohort_wk, a.wk - c.cohort_wk AS week_offset, COUNT(*) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,
    "events_sliding" ->
      """WITH b AS (
        |  SELECT event_type, value,
        |         unnest([time_bucket(INTERVAL '5 minutes', ts),
        |                 time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'])
        |           AS bucket_start
        |  FROM events)
        |SELECT bucket_start, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
        |FROM b GROUP BY bucket_start, event_type""".stripMargin,
    "events_sessionize" ->
      s"SELECT user_id, event_id, session_id FROM ($sessionizeSql) s",
    "events_session_stats" ->
      s"""SELECT user_id, session_id, COUNT(*) AS n_events,
         |  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
         |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
         |FROM ($sessionizeSql) s GROUP BY user_id, session_id""".stripMargin,
    "events_attribution" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |purch AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.event_id AS purchase_id, p.user_id, p.ts, c.click_id,
        |         (epoch_us(p.ts) - epoch_us(c.ts)) // 1000 AS gap_ms
        |  FROM purch p ASOF LEFT JOIN clicks c
        |    ON c.user_id = p.user_id AND c.ts <= p.ts)
        |SELECT purchase_id, user_id, ts,
        |  CASE WHEN gap_ms <= 21600000 THEN click_id END AS click_id,
        |  CASE WHEN gap_ms <= 21600000 THEN gap_ms END AS gap_ms
        |FROM j""".stripMargin,
    "events_ab_test" -> {
      val hv = graft.functions.Hashing.hash64Sql("CAST(user_id AS VARCHAR)")
      s"""WITH p AS (
         |  SELECT $hv % 2 AS variant, value
         |  FROM events WHERE event_type = 'purchase'),
         |m AS (
         |  SELECT
         |    COUNT(CASE WHEN variant = 0 THEN 1 END) AS n_a,
         |    COUNT(CASE WHEN variant = 1 THEN 1 END) AS n_b,
         |    SUM(CASE WHEN variant = 0 THEN CAST(value AS DECIMAL(38,8)) END) AS sa,
         |    SUM(CASE WHEN variant = 1 THEN CAST(value AS DECIMAL(38,8)) END) AS sb,
         |    SUM(CASE WHEN variant = 0 THEN CAST(value * value AS DECIMAL(38,8)) END) AS ssa,
         |    SUM(CASE WHEN variant = 1 THEN CAST(value * value AS DECIMAL(38,8)) END) AS ssb
         |  FROM p),
         |s AS (
         |  SELECT n_a, n_b,
         |    CAST(sa AS DOUBLE) / n_a AS mean_a,
         |    CAST(sb AS DOUBLE) / n_b AS mean_b,
         |    (CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / n_a)
         |      / (n_a - 1) AS var_a,
         |    (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / n_b)
         |      / (n_b - 1) AS var_b
         |  FROM m)
         |SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
         |  (mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS z_welch
         |FROM s""".stripMargin
    },
    "events_asof_join" ->
      """WITH views AS (
        |  SELECT user_id, ts, MAX(event_id) AS view_id,
        |         arg_max(value, event_id) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        |clicks AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts, c.value, v.view_id, v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts""".stripMargin,
    "events_range_join" ->
      """WITH bands AS (
        |  SELECT i AS band_id, i * 4.0 AS lo, i * 4.0 + 10.0 AS hi
        |  FROM range(125) t(i))
        |SELECT band_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
        |FROM bands b JOIN events e ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY band_id""".stripMargin,
    "events_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "events_interval_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click'),
        |v AS (
        |  SELECT user_id, event_id AS view_id, epoch_us(ts) AS v_us
        |  FROM events WHERE event_type = 'view')
        |SELECT c.user_id, click_id, view_id
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND c.c_us >= v.v_us AND c.c_us < v.v_us + 21600000000""".stripMargin,
    "layout_zorder" -> {
      val z = graft.functions.ZOrder.interleaveSql("zx", "zy", 8)
      s"""WITH d AS (
         |  SELECT event_id,
         |         CAST(LEAST(floor(value / 2.0), 255.0) AS BIGINT) AS zx,
         |         (epoch_us(ts) // 3600000000) % 256 AS zy
         |  FROM events)
         |SELECT event_id, zx, zy, $z AS zval
         |FROM d ORDER BY zval, event_id LIMIT 100""".stripMargin
    },
    "events_mad_outliers" ->
      """WITH r1 AS (
        |  SELECT event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |med AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN value END) AS med
        |  FROM r1 GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_type, e.event_id, m.med, abs(e.value - m.med) AS absdev
        |  FROM events e JOIN med m USING (event_type)),
        |r2 AS (
        |  SELECT event_type, absdev,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY absdev, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev),
        |mad AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN absdev END) AS mad
        |  FROM r2 GROUP BY event_type)
        |SELECT d.event_type, d.med, a.mad, COUNT(*) AS n_outliers
        |FROM dev d JOIN mad a USING (event_type)
        |WHERE d.absdev > 3.0 * a.mad
        |GROUP BY 1, 2, 3""".stripMargin,
    "events_rfm" ->
      """WITH per AS (
        |  SELECT user_id, MAX(epoch_us(ts)) AS last_us, COUNT(*) AS frequency,
        |         CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS monetary
        |  FROM events GROUP BY user_id),
        |tot AS (SELECT MAX(epoch_us(ts)) AS gmax FROM events)
        |SELECT user_id,
        |  CAST((gmax - last_us) // 86400000000 AS BIGINT) AS recency_days,
        |  frequency, monetary,
        |  CAST(NTILE(5) OVER (ORDER BY last_us DESC, user_id) AS BIGINT) AS r_score,
        |  CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) AS f_score,
        |  CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) AS m_score
        |FROM per CROSS JOIN tot""".stripMargin,
    "events_markov_transitions" ->
      """WITH s AS (
        |  SELECT event_type,
        |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           AS prev_type
        |  FROM events),
        |t AS (
        |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
        |  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n_transitions,
        |  CAST(n_transitions AS DOUBLE) /
        |    SUM(n_transitions) OVER (PARTITION BY prev_type) AS p
        |FROM t""".stripMargin,
    "events_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(datediff('day', DATE '2024-01-01', ts) AS BIGINT) AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
        |grid AS (
        |  SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM span)
        |SELECT g.user_id, g.day,
        |  LAST_VALUE(d.day_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
        |  d.day_value IS NOT NULL AS is_observed
        |FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day""".stripMargin,
    "events_histogram" ->
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n_events, MIN(value) AS min_value, MAX(value) AS max_value,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_winsorized_stats" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |cuts AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.05 * n) AS BIGINT)) THEN value END) AS lo,
        |    MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.95 * n) AS BIGINT)) THEN value END) AS hi
        |  FROM r GROUP BY event_type)
        |SELECT e.event_type, c.lo, c.hi, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(GREATEST(LEAST(e.value, c.hi), c.lo) AS DECIMAL(38,8))) AS DOUBLE)
        |    AS winsorized_sum,
        |  CAST(SUM(CASE WHEN e.value < c.lo OR e.value > c.hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped
        |FROM events e JOIN cuts c ON e.event_type = c.event_type
        |GROUP BY 1, 2, 3""".stripMargin,
    "events_value_quantiles" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_events,
        |  MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN value END) AS p50,
        |  MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.9 * n) AS BIGINT)) THEN value END) AS p90,
        |  MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.99 * n) AS BIGINT)) THEN value END) AS p99
        |FROM r GROUP BY event_type""".stripMargin,
    "events_seasonal_forecast" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(datediff('day', DATE '2024-01-01', ts) AS BIGINT) AS day,
        |         (epoch_us(ts) // 3600000000) % 24 AS hod,
        |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS q
        |  FROM events),
        |cut AS (SELECT MAX(day) - 1 AS c FROM ev),
        |baseline AS (
        |  SELECT event_type, hod,
        |         CAST(SUM(q) AS BIGINT) // COUNT(*) AS forecast_micro
        |  FROM ev, cut WHERE day < c GROUP BY event_type, hod),
        |test AS (SELECT event_type, hod, q FROM ev, cut WHERE day >= c)
        |SELECT t.event_type, COUNT(*) AS n_test,
        |  CAST(SUM(ABS(t.q - b.forecast_micro)) AS BIGINT) // COUNT(*) AS mae_micro,
        |  CAST(MAX(ABS(t.q - b.forecast_micro)) AS BIGINT) AS max_err_micro
        |FROM test t JOIN baseline b USING (event_type, hod)
        |GROUP BY t.event_type""".stripMargin
  )
}
