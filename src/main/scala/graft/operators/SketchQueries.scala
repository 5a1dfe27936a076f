package graft.operators

import graft.CacheScope
import graft.Tables
import graft.functions.{Hashing, HllSketch, KmvSketch, SampleSketch}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketch-based summary queries (KMV distinct estimation + set operations).
  *
  * Each query emits the sketch estimate NEXT TO the exact distinct count,
  * so the oracle validates both the sketch arithmetic (hash-exact, see
  * [[graft.functions.KmvSketch]]) and its accuracy envelope in one row set.
  */
object SketchQueries {
  type Q = (SparkSession, String) => DataFrame

  val K = 256

  /** Sketch size for the set-operation query (k-min hash set per source). */
  val SetK = 64

  val queries: Map[String, Q] = Map(
    // per-group sketch: small groups take the exact (<k) path, large ones
    // the estimator path — both branches land in the oracle comparison
    "sketch_kmv_groups" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          KmvSketch.kmvDistinct(col("l_orderkey").cast("string"), K).as("kmv_millis"),
          countDistinct(col("l_orderkey")).as("exact_nd"))),
    // one global group: the merge path runs across every input partition
    "sketch_kmv_global" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "orders")
        .agg(
          KmvSketch.kmvDistinct(col("o_custkey").cast("string"), K).as("kmv_millis"),
          countDistinct(col("o_custkey")).as("exact_nd"))),
    // HYPERLOGLOG, global: the canonical cardinality sketch next to KMV —
    // 256 max-registers (O(m) mergeable state vs KMV's k-set), emitted as
    // exact integer state (S, empty-register count) plus the raw estimate
    // in a pinned-op-order milli-unit LONG, all replayed bit-for-bit by
    // the oracle ([[graft.functions.HllSketch]]). Consumers apply the
    // small-range correction from (S, zero_regs); libm ln() is the one
    // piece no cross-engine hash gate can pin.
    "sketch_hll_global" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "orders")
        .agg(
          HllSketch.hllDistinct(col("o_custkey").cast("string")).as("h"),
          countDistinct(col("o_custkey")).as("exact_nd"))
        .select(col("h.s").as("s"), col("h.zero_regs").as("zero_regs"),
          col("h.raw_millis").as("raw_millis"), col("exact_nd"))),
    // HYPERLOGLOG, grouped: per-source distinct-token cardinality — the
    // shape a corpus profile runs at 100 TB (per-group 256-byte partial
    // state through one map-side-combined shuffle; the exact countDistinct
    // alongside is the fixture-scale anchor the oracle compares).
    "sketch_hll_sources" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "documents")
        .select(col("source"), explode(Hashing.tokens(col("text"))).as("token"))
        .groupBy(col("source"))
        .agg(HllSketch.hllDistinct(col("token")).as("h"),
          countDistinct(col("token")).as("exact_nd"))
        .select(col("source"), col("h.s").as("s"), col("h.zero_regs").as("zero_regs"),
          col("h.raw_millis").as("raw_millis"), col("exact_nd"))),
    // KMV SET OPERATIONS: pairwise vocabulary-overlap estimates between
    // document sources from k-min hash sketches alone. The KMV closure
    // property does the work: the k smallest hashes of A ∪ B are a subset
    // of kmin(A) ∪ kmin(B), so the union sketch derives from the two
    // per-source sketches with NO second pass over the data, and
    // |kminU ∩ A_k ∩ B_k| / k is the standard unbiased Jaccard estimate.
    // Per-source sketches are materialized relationally (row_number ≤ k
    // over the hash order — WindowGroupLimit prunes map-side, so no
    // source's full vocabulary ever crosses the shuffle); everything
    // downstream touches ≤ 2k rows per source pair. Hashes are md5-hex
    // (identical bytes and identical lexicographic order in both engines),
    // so every sketch row and both estimates are engine-exact.
    "sketch_kmv_jaccard" -> ((spark, sfDir) =>
      kmvSourceJaccard(Tables.load(spark, sfDir, "documents"))),
    // THETA-STYLE SET OPERATIONS: union / intersection / difference
    // cardinality estimates per source pair, computed from the per-source
    // KMV sketches alone — see [[kmvSourceSetops]].
    "sketch_kmv_setops" -> ((spark, sfDir) =>
      kmvSourceSetops(Tables.load(spark, sfDir, "documents"))),
    // HLL MERGEABILITY, demonstrated relationally: per-source register
    // frames (group-max of rho per bucket — the HLL state as ROWS) merge
    // into the global sketch by a second bucket-max across sources, the
    // exact 2-level aggregation tree a 1000-executor cluster runs; the
    // merged estimate is emitted NEXT TO the direct single-pass build over
    // the same token stream plus a merge_exact flag, and the oracle
    // replays register construction, merge, and both estimates
    // bit-for-bit. At 100 TB only the ≤256-row register frames cross the
    // second aggregation — the property that makes per-shard sketch
    // tables composable into corpus-level distinct counts without
    // re-touching data.
    "sketch_hll_merge" -> ((spark, sfDir) => {
      val hh = Tables.load(spark, sfDir, "documents")
        .select(col("source"), explode(Hashing.tokens(col("text"))).as("token"))
        .select(col("source"), col("token"), Hashing.hash64(col("token")).as("hv"))
        .transform(CacheScope.cached) // register builds + exact count share it
      // rho over the 52-bit tail via bin() (no-leading-zeros bit length) —
      // the same construction the DuckDB oracle uses, so registers agree
      val tail = col("hv").bitwiseAND(lit((1L << 52) - 1))
      val rho = when(tail === lit(0L), lit(53)).otherwise(lit(53) - length(bin(tail)))
      val mr = hh
        .select(col("source"), shiftright(col("hv"), 52).as("bucket"), rho.as("r"))
        .groupBy(col("source"), col("bucket")).agg(max(col("r")).as("m"))
      def sketchAgg(regs: DataFrame): DataFrame = regs
        .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - m)")).as("__sp"),
          count(lit(1)).as("__np"))
        .select(
          (col("__sp") + (lit(256L) - col("__np")) * lit(1L << 53)).as("s"),
          (lit(256L) - col("__np")).as("zero_regs"))
      val estC = floor(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256)) * 65536
        * 9007199254740992L / col("s").cast("double") * 1000 + 0.5).cast("long")
      // merge path: bucket-max ACROSS the per-source register frames
      val merged = sketchAgg(mr.groupBy(col("bucket")).agg(max(col("m")).as("m")))
        .select(col("s").as("merged_s"), col("zero_regs").as("merged_zero_regs"),
          estC.as("merged_raw_millis"))
      // direct path: one global register build over the same stream
      val direct = sketchAgg(hh
          .select(shiftright(col("hv"), 52).as("bucket"), rho.as("r"))
          .groupBy(col("bucket")).agg(max(col("r")).as("m")))
        .select(col("s").as("direct_s"))
      val exact = hh.agg(countDistinct(col("token")).as("exact_nd"))
      merged.crossJoin(broadcast(direct)).crossJoin(broadcast(exact))
        .select(col("merged_s"), col("merged_zero_regs"), col("merged_raw_millis"),
          col("direct_s"), (col("merged_s") === col("direct_s")).as("merge_exact"),
          col("exact_nd"))
    }),
    // BOTTOM-K SAMPLE QUANTILES: per-type value quantiles from a fixed
    // O(k)-state sketch ([[graft.functions.SampleSketch]]) instead of the
    // full rank-arithmetic pass `events_value_quantiles` runs — at 100 TB
    // the sample crosses the shuffle as k (hash, value) pairs per group
    // while the exact pass shuffles every row. n_rows rides along from the
    // same aggregation, and quantile extraction is relational composition
    // over the returned sorted array (lower discrete quantile at
    // 1 + floor(p·(m−1))). The md5-ordered sample is engine-exact, so the
    // oracle checks the APPROXIMATE quantiles bit-for-bit.
    // COUNT-MIN FREQUENCY SKETCH: completes the mergeable-sketch trio
    // (KMV = distinct counts, bottom-k = quantiles, CMS = frequencies).
    // The sketch is d×w COUNTERS — a plain (row_j, bucket) hash
    // aggregation over the token stream, so it partial-aggregates
    // map-side and crosses the shuffle as ≤ d·w rows TOTAL regardless of
    // corpus size; per-term estimates then need only the O(d·w) sketch
    // (broadcast) joined against the probe terms: at 100 TB the exact
    // global term counts this replaces would shuffle the full vocabulary.
    // Estimates report NEXT TO the exact counts (one-sided error:
    // est ≥ exact always, overshoot ≤ εN with ε ≈ 2/w), and md5-derived
    // bucket hashes make the whole sketch a deterministic function of the
    // input multiset — the DuckDB oracle replays it bit-for-bit.
    "sketch_cms_terms" -> ((spark, sfDir) => {
      val tok = Tables.load(spark, sfDir, "documents")
        .select(explode(Hashing.tokens(col("text"))).as("term"))
        .transform(CacheScope.cached) // sketch build + exact-count probes both scan it
      // Probe selection plans as TakeOrderedAndProject (per-partition
      // top-k heaps merged on the driver, no single-partition Exchange) —
      // at web-corpus vocabulary (10⁸+ distinct terms) a global
      // row_number() window here would sort the whole term frame in one
      // task. PlanQualitySpec gates the shape.
      val probes = tok.groupBy(col("term")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term"))
        .limit(CmsProbes)
      probes.select(col("term"), col("exact_cnt"), cmsCoords(col("term")).as("e"))
        .select(col("term"), col("exact_cnt"), col("e.row_j"), col("e.bucket"))
        .join(broadcast(cmsSketch(tok)), Seq("row_j", "bucket"))
        .groupBy(col("term"), col("exact_cnt"))
        .agg(min(col("c")).as("cms_est"))
    }),
    "sketch_sample_quantiles" -> ((spark, sfDir) => {
      def q(p: Double, name: String) =
        element_at(col("samp"),
          (floor(lit(p) * (size(col("samp")) - 1)) + 1).cast("int")).as(name)
      Tables.load(spark, sfDir, "events")
        .groupBy(col("event_type"))
        .agg(
          SampleSketch.bottomKSample(col("value"), col("event_id").cast("string"), SampleK)
            .as("samp"),
          count(lit(1)).as("n_rows"))
        .select(col("event_type"), col("n_rows"), size(col("samp")).as("m"),
          q(0.25, "p25"), q(0.50, "p50"), q(0.75, "p75"), q(0.90, "p90"))
    })
  )

  /** Sample size for the bottom-k quantile sketch (standard error of a
    * quantile estimate ~ sqrt(p(1-p)/k) ≈ 4.4% of rank at k=128). */
  val SampleK = 128

  /** Count-Min depth (independent hash rows) and width (buckets per row):
    * overshoot ≤ (2/width)·N with probability 1 − (1/2)^depth. */
  val CmsD = 4
  val CmsW = 512

  /** Probe count for the CMS readout: the exact top-N terms, so the
    * oracle row set exercises the estimator exactly where a heavy-hitter
    * pipeline would read it. */
  val CmsProbes = 20

  /** The [[CmsD]] (row_j, bucket) sketch coordinates of one term
    * occurrence — shared by the batch build, the probe readout, and the
    * streaming twin. */
  def cmsCoords(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    explode(array((0 until CmsD).map(j => struct(lit(j).as("row_j"),
      (Hashing.hash64(concat_ws(":", lit(j.toString), term)) % CmsW)
        .as("bucket"))): _*))

  /** Count-Min counter frame from a (term) occurrence frame — one hash
    * aggregation, so it partial-aggregates map-side in batch and runs
    * UNCHANGED as a streaming state-store aggregation (counters are the
    * associative/commutative fold Structured Streaming needs; streamed ==
    * batch pinned by `StreamingSpec`). */
  def cmsSketch(tokens: DataFrame): DataFrame =
    tokens.select(cmsCoords(col("term")).as("e"))
      .groupBy(col("e.row_j").as("row_j"), col("e.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))

  /** The KMV sketches both source-pair queries read, from a (source, text)
    * frame: `kmin` holds each source's [[SetK]] smallest distinct token
    * hashes (source, hv); `pairs` holds, per source pair (source_a <
    * source_b), the union sketch's size `k_used`, the count `n_both` of its
    * hashes in both sources' sketches, and its kept-max hash `mx_u`. */
  private def kmvPairSketches(docs: DataFrame): (DataFrame, DataFrame) = {
    val tok = docs
      .select(col("source"), explode(Hashing.tokens(col("text"))).as("token"))
      .select(col("source"), Hashing.hashHex(col("token")).as("hv"))
      .distinct()
    val w = Window.partitionBy(col("source")).orderBy(col("hv"))
    val kmin = tok.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= SetK)
      .select(col("source"), col("hv")).transform(CacheScope.cached)
    val a = kmin.select(col("source").as("source_a"), col("hv"))
    val b = kmin.select(col("source").as("source_b"), col("hv"))
    val srcPairs = a.select(col("source_a")).distinct()
      .crossJoin(broadcast(b.select(col("source_b")).distinct()))
      .filter(col("source_a") < col("source_b"))
    val uni = srcPairs.join(a, "source_a").select(col("source_a"), col("source_b"), col("hv"))
      .union(srcPairs.join(b, "source_b").select(col("source_a"), col("source_b"), col("hv")))
      .distinct()
    val wp = Window.partitionBy(col("source_a"), col("source_b")).orderBy(col("hv"))
    val pairs = uni.withColumn("__rn", row_number().over(wp)).filter(col("__rn") <= SetK)
      .join(a.withColumn("in_a", lit(1L)), Seq("source_a", "hv"), "left")
      .join(b.withColumn("in_b", lit(1L)), Seq("source_b", "hv"), "left")
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("k_used"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L).otherwise(0L))
          .as("n_both"),
        max(col("hv")).as("mx_u"))
    (kmin, pairs)
  }

  /** Pairwise KMV Jaccard estimates between the `source` groups of a
    * (source, text) frame — see the `sketch_kmv_jaccard` entry for the
    * closure-property design. */
  def kmvSourceJaccard(docs: DataFrame): DataFrame =
    kmvPairSketches(docs)._2
      .select(col("source_a"), col("source_b"), col("k_used"), col("n_both"),
        (col("n_both").cast("double") / col("k_used")).as("jaccard_est"))

  /** KMV cardinality estimate in milli-units from a sketch's row count `n`
    * and kept-max hash `mx` (15-hex-digit md5 prefix): exact `n·1000` while
    * the sketch holds everything (n < k), else the classic (k−1)/θ with
    * θ = mx/2⁶⁰ — operation order pinned to the oracle's SQL text so the
    * double arithmetic is bit-identical cross-engine. */
  private def kmvMillisFromMax(n: Column, mx: Column): Column =
    when(n < SetK, n * lit(1000L)).otherwise(
      floor(lit(63.0) / (conv(mx, 16, 10).cast("double") / lit(1152921504606846976.0))
        * 1000.0 + 0.5).cast("long"))

  /** Theta-sketch-style SET OPERATIONS between the `source` groups of a
    * (source, text) frame: per-pair estimates of |A∪B| (from the union
    * sketch — the KMV closure property again), |A∩B| (inclusion via the
    * matched-hash fraction of the union sketch), and |A\B| / |B\A|
    * (inclusion–exclusion against the per-source estimates). All milli-unit
    * BIGINTs with pinned-op-order arithmetic, so the DuckDB oracle replays
    * every approximate answer bit-for-bit. At 100 TB the data pass is the
    * per-source bottom-k sketch build (WindowGroupLimit prunes map-side);
    * every set operation is then O(k) per pair on sketches alone —
    * the workflow that answers "how much does corpus A overlap corpus B"
    * without ever joining the corpora. */
  def kmvSourceSetops(docs: DataFrame): DataFrame = {
    val (kmin, pairs) = kmvPairSketches(docs)
    val per = kmin.groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"), max(col("hv")).as("mx_s"))
      .select(col("source"), kmvMillisFromMax(col("n_s"), col("mx_s")).as("millis_s"))
    pairs
      .withColumn("union_millis", kmvMillisFromMax(col("k_used"), col("mx_u")))
      .join(broadcast(per.select(col("source").as("source_a"),
        col("millis_s").as("__am"))), "source_a")
      .join(broadcast(per.select(col("source").as("source_b"),
        col("millis_s").as("__bm"))), "source_b")
      .select(col("source_a"), col("source_b"), col("k_used"), col("n_both"),
        col("union_millis"),
        floor(col("n_both").cast("double") * col("union_millis") / col("k_used"))
          .cast("long").as("inter_millis"),
        greatest(col("union_millis") - col("__bm"), lit(0L)).as("only_a_millis"),
        greatest(col("union_millis") - col("__am"), lit(0L)).as("only_b_millis"))
  }

  private val hv = Hashing.hash60Sql("CAST(l_orderkey AS VARCHAR)")
  private val hvCust = Hashing.hash60Sql("CAST(o_custkey AS VARCHAR)")

  /** HLL register rho for a DuckDB BIGINT hash column named `hv`:
    * 53 − bitlength of the 52-bit tail (53 for a zero tail), via
    * `bin()`'s no-leading-zeros rendering. */
  private val rhoSql =
    """CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
      |     ELSE 53 - length(bin(hv & ((1::BIGINT << 52) - 1))) END""".stripMargin

  /** The pinned-op-order raw HLL estimate over an integer register sum
    * column `s` — byte-identical expression text to the engine's
    * [[graft.functions.HllSketch]] eval. */
  private val hllEstSql =
    "CAST(floor(0.7213 / (1 + 1.079/256) * 65536 * 9007199254740992 " +
      "/ CAST(s AS DOUBLE) * 1000 + 0.5) AS BIGINT)"

  val oracleSql: Map[String, String] = Map(
    "sketch_hll_global" ->
      s"""WITH hh AS (SELECT $hvCust AS hv FROM orders),
         |mr AS (SELECT hv >> 52 AS bucket, MAX($rhoSql) AS m FROM hh GROUP BY 1),
         |regs AS (
         |  SELECT COALESCE(mr.m, 0) AS m
         |  FROM (SELECT unnest(range(0, 256)) AS bucket) g
         |  LEFT JOIN mr ON mr.bucket = g.bucket),
         |agg AS (
         |  SELECT CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s,
         |         CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_regs
         |  FROM regs),
         |ex AS (SELECT COUNT(DISTINCT o_custkey) AS exact_nd FROM orders)
         |SELECT s, zero_regs, $hllEstSql AS raw_millis, CAST(exact_nd AS BIGINT) AS exact_nd
         |FROM agg CROSS JOIN ex""".stripMargin,
    "sketch_hll_sources" ->
      s"""WITH tok AS (
         |  SELECT source, unnest(${Hashing.tokensSql("text")}) AS token FROM documents),
         |hh AS (SELECT source, ${Hashing.hash60Sql("token")} AS hv FROM tok),
         |mr AS (SELECT source, hv >> 52 AS bucket, MAX($rhoSql) AS m
         |       FROM hh GROUP BY 1, 2),
         |grid AS (
         |  SELECT s.source, g.bucket
         |  FROM (SELECT DISTINCT source FROM tok) s
         |  CROSS JOIN (SELECT unnest(range(0, 256)) AS bucket) g),
         |regs AS (
         |  SELECT grid.source, COALESCE(mr.m, 0) AS m
         |  FROM grid LEFT JOIN mr ON mr.source = grid.source AND mr.bucket = grid.bucket),
         |agg AS (
         |  SELECT source,
         |         CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s,
         |         CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_regs
         |  FROM regs GROUP BY source),
         |ex AS (SELECT source, COUNT(DISTINCT token) AS exact_nd FROM tok GROUP BY source)
         |SELECT a.source, a.s, a.zero_regs, $hllEstSql AS raw_millis,
         |       CAST(ex.exact_nd AS BIGINT) AS exact_nd
         |FROM agg a JOIN ex ON ex.source = a.source""".stripMargin,
    "sketch_kmv_groups" ->
      s"""WITH h AS (
         |  SELECT l_returnflag, l_linestatus, $hv AS hvv
         |  FROM lineitem GROUP BY 1, 2, 3),
         |r AS (
         |  SELECT l_returnflag, l_linestatus, hvv,
         |         ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus ORDER BY hvv) AS rn,
         |         COUNT(*) OVER (PARTITION BY l_returnflag, l_linestatus) AS nd
         |  FROM h)
         |SELECT l_returnflag, l_linestatus,
         |       CAST(CASE WHEN MIN(nd) < $K THEN MIN(nd) * 1000
         |            ELSE floor(${K - 1}.0 / (MAX(CASE WHEN rn = $K THEN hvv END)
         |                 / 1152921504606846976.0) * 1000.0 + 0.5) END AS BIGINT) AS kmv_millis,
         |       CAST(MIN(nd) AS BIGINT) AS exact_nd
         |FROM r GROUP BY 1, 2""".stripMargin,
    "sketch_kmv_global" ->
      s"""WITH h AS (SELECT DISTINCT $hvCust AS hvv FROM orders),
         |r AS (
         |  SELECT hvv, ROW_NUMBER() OVER (ORDER BY hvv) AS rn,
         |         COUNT(*) OVER () AS nd
         |  FROM h)
         |SELECT CAST(CASE WHEN MIN(nd) < $K THEN MIN(nd) * 1000
         |            ELSE floor(${K - 1}.0 / (MAX(CASE WHEN rn = $K THEN hvv END)
         |                 / 1152921504606846976.0) * 1000.0 + 0.5) END AS BIGINT) AS kmv_millis,
         |       CAST(MIN(nd) AS BIGINT) AS exact_nd
         |FROM r""".stripMargin,
    "sketch_kmv_jaccard" ->
      s"""WITH tok AS (
         |  SELECT DISTINCT source, ${Hashing.hashHexSql("t")} AS hv
         |  FROM (SELECT source, unnest(${Hashing.tokensSql("text")}) AS t FROM documents)),
         |kmin AS (
         |  SELECT source, hv FROM (
         |    SELECT source, hv, ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
         |    FROM tok) t WHERE rn <= $SetK),
         |srcs AS (SELECT DISTINCT source FROM kmin),
         |prs AS (
         |  SELECT a.source AS source_a, b.source AS source_b
         |  FROM srcs a JOIN srcs b ON a.source < b.source),
         |uni AS (
         |  SELECT DISTINCT p.source_a, p.source_b, k.hv
         |  FROM prs p JOIN kmin k ON k.source = p.source_a OR k.source = p.source_b),
         |kminu AS (
         |  SELECT source_a, source_b, hv FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source_a, source_b ORDER BY hv) AS rn
         |    FROM uni) t WHERE rn <= $SetK)
         |SELECT u.source_a, u.source_b, COUNT(*) AS k_used,
         |  CAST(SUM(CASE WHEN ka.hv IS NOT NULL AND kb.hv IS NOT NULL
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  CAST(SUM(CASE WHEN ka.hv IS NOT NULL AND kb.hv IS NOT NULL
         |                THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS jaccard_est
         |FROM kminu u
         |LEFT JOIN kmin ka ON ka.source = u.source_a AND ka.hv = u.hv
         |LEFT JOIN kmin kb ON kb.source = u.source_b AND kb.hv = u.hv
         |GROUP BY u.source_a, u.source_b""".stripMargin,
    "sketch_hll_merge" -> {
      val estOf = (s: String) =>
        "CAST(floor(0.7213 / (1 + 1.079/256) * 65536 * 9007199254740992 " +
          s"/ CAST($s AS DOUBLE) * 1000 + 0.5) AS BIGINT)"
      s"""WITH tok AS (
         |  SELECT source, unnest(${Hashing.tokensSql("text")}) AS token FROM documents),
         |hh AS (SELECT source, token, ${Hashing.hash60Sql("token")} AS hv FROM tok),
         |mr AS (SELECT source, hv >> 52 AS bucket, MAX($rhoSql) AS m
         |       FROM hh GROUP BY 1, 2),
         |mm AS (SELECT bucket, MAX(m) AS m FROM mr GROUP BY bucket),
         |ma AS (
         |  SELECT CAST(SUM(1::BIGINT << (53 - m))
         |           + (256 - COUNT(*)) * (1::BIGINT << 53) AS BIGINT) AS s,
         |         CAST(256 - COUNT(*) AS BIGINT) AS zero_regs
         |  FROM mm),
         |dm AS (SELECT hv >> 52 AS bucket, MAX($rhoSql) AS m FROM hh GROUP BY 1),
         |da AS (
         |  SELECT CAST(SUM(1::BIGINT << (53 - m))
         |           + (256 - COUNT(*)) * (1::BIGINT << 53) AS BIGINT) AS s
         |  FROM dm),
         |ex AS (SELECT COUNT(DISTINCT token) AS exact_nd FROM hh)
         |SELECT ma.s AS merged_s, ma.zero_regs AS merged_zero_regs,
         |       ${estOf("ma.s")} AS merged_raw_millis,
         |       da.s AS direct_s, ma.s = da.s AS merge_exact,
         |       CAST(ex.exact_nd AS BIGINT) AS exact_nd
         |FROM ma CROSS JOIN da CROSS JOIN ex""".stripMargin
    },
    "sketch_kmv_setops" ->
      s"""WITH tok AS (
         |  SELECT DISTINCT source, ${Hashing.hashHexSql("t")} AS hv
         |  FROM (SELECT source, unnest(${Hashing.tokensSql("text")}) AS t FROM documents)),
         |kmin AS (
         |  SELECT source, hv FROM (
         |    SELECT source, hv, ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
         |    FROM tok) t WHERE rn <= $SetK),
         |per AS (
         |  SELECT source,
         |         CASE WHEN COUNT(*) < $SetK THEN COUNT(*) * 1000
         |              ELSE CAST(floor(63.0 / (CAST(concat('0x', MAX(hv)) AS BIGINT)
         |                   / 1152921504606846976.0) * 1000.0 + 0.5) AS BIGINT) END AS millis_s
         |  FROM kmin GROUP BY source),
         |srcs AS (SELECT DISTINCT source FROM kmin),
         |prs AS (
         |  SELECT a.source AS source_a, b.source AS source_b
         |  FROM srcs a JOIN srcs b ON a.source < b.source),
         |uni AS (
         |  SELECT DISTINCT p.source_a, p.source_b, k.hv
         |  FROM prs p JOIN kmin k ON k.source = p.source_a OR k.source = p.source_b),
         |kminu AS (
         |  SELECT source_a, source_b, hv FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source_a, source_b ORDER BY hv) AS rn
         |    FROM uni) t WHERE rn <= $SetK),
         |pairagg AS (
         |  SELECT u.source_a, u.source_b, COUNT(*) AS k_used,
         |    CAST(SUM(CASE WHEN ka.hv IS NOT NULL AND kb.hv IS NOT NULL
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |    MAX(u.hv) AS mx_u
         |  FROM kminu u
         |  LEFT JOIN kmin ka ON ka.source = u.source_a AND ka.hv = u.hv
         |  LEFT JOIN kmin kb ON kb.source = u.source_b AND kb.hv = u.hv
         |  GROUP BY u.source_a, u.source_b),
         |um AS (
         |  SELECT source_a, source_b, k_used, n_both,
         |         CASE WHEN k_used < $SetK THEN k_used * 1000
         |              ELSE CAST(floor(63.0 / (CAST(concat('0x', mx_u) AS BIGINT)
         |                   / 1152921504606846976.0) * 1000.0 + 0.5) AS BIGINT) END AS union_millis
         |  FROM pairagg)
         |SELECT um.source_a, um.source_b, um.k_used, um.n_both, um.union_millis,
         |  CAST(floor(CAST(um.n_both AS DOUBLE) * um.union_millis / um.k_used) AS BIGINT)
         |    AS inter_millis,
         |  greatest(um.union_millis - pb.millis_s, 0) AS only_a_millis,
         |  greatest(um.union_millis - pa.millis_s, 0) AS only_b_millis
         |FROM um JOIN per pa ON pa.source = um.source_a
         |        JOIN per pb ON pb.source = um.source_b""".stripMargin,
    "sketch_cms_terms" -> {
      def bucketSql(jExpr: String, termExpr: String) =
        s"CAST(concat('0x', substr(md5(CAST(concat($jExpr, ':', $termExpr) " +
          s"AS VARCHAR)),1,15)) AS BIGINT) % $CmsW"
      s"""WITH tok AS (
         |  SELECT unnest(${Hashing.tokensSql("text")}) AS term FROM documents),
         |js AS (SELECT unnest([${(0 until CmsD).mkString(",")}]) AS row_j),
         |sketch AS (
         |  SELECT row_j, ${bucketSql("row_j", "term")} AS bucket, COUNT(*) AS c
         |  FROM tok CROSS JOIN js GROUP BY 1, 2),
         |probes AS (
         |  SELECT term, exact_cnt FROM (
         |    SELECT term, COUNT(*) AS exact_cnt,
         |           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rn
         |    FROM tok GROUP BY term) t
         |  WHERE rn <= $CmsProbes),
         |pb AS (
         |  SELECT p.term, p.exact_cnt, j.row_j,
         |         ${bucketSql("j.row_j", "p.term")} AS bucket
         |  FROM probes p CROSS JOIN js j)
         |SELECT pb.term, pb.exact_cnt, MIN(s.c) AS cms_est
         |FROM pb JOIN sketch s ON s.row_j = pb.row_j AND s.bucket = pb.bucket
         |GROUP BY 1, 2""".stripMargin
    },
    "sketch_sample_quantiles" ->
      s"""WITH h AS (
         |  SELECT event_type, value,
         |         ${Hashing.hash60Sql("CAST(event_id AS VARCHAR)")} AS hv
         |  FROM events),
         |d AS (SELECT DISTINCT event_type, hv, value FROM h),
         |r AS (
         |  SELECT event_type, value,
         |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv, value) AS rn
         |  FROM d),
         |s AS (
         |  SELECT event_type, list(value ORDER BY value) AS samp, COUNT(*) AS m
         |  FROM r WHERE rn <= $SampleK GROUP BY event_type),
         |n AS (SELECT event_type, COUNT(*) AS n_rows FROM events GROUP BY event_type)
         |SELECT s.event_type, n.n_rows, CAST(s.m AS INT) AS m,
         |  samp[CAST(1 + floor(0.25 * (s.m - 1)) AS BIGINT)] AS p25,
         |  samp[CAST(1 + floor(0.50 * (s.m - 1)) AS BIGINT)] AS p50,
         |  samp[CAST(1 + floor(0.75 * (s.m - 1)) AS BIGINT)] AS p75,
         |  samp[CAST(1 + floor(0.90 * (s.m - 1)) AS BIGINT)] AS p90
         |FROM s JOIN n ON s.event_type = n.event_type""".stripMargin
  )
}
