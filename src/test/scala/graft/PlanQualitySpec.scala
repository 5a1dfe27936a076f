package graft

import graft.operators.{DiffQueries, SnapshotDiff}

/** Pins the physical-plan properties the 100 TB design depends on — not
  * just that queries return correct rows, but that Catalyst produced the
  * plan we argued for: filters and projections reaching the parquet scan,
  * dimensions broadcast, the diff shuffling each side exactly once, and
  * the fused report containing no join at all. A regression that keeps
  * results correct but silently de-optimizes the plan fails here. */
class PlanQualitySpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan.toString

  test("q6: filters are pushed into the parquet scan") {
    val p = plan("q6_sql_passthrough")
    val scan = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    // non-empty pushdown including the shipdate bound (the printed filter
    // list is truncated by Spark, so match the stable prefix)
    assert(scan.contains("PushedFilters: [IsNotNull"), scan)
    assert(scan.contains("GreaterThanOrEqual(l_shipda"), scan)
  }

  test("q1: scan is pruned to exactly the aggregated columns") {
    val p = plan("q1_pricing_summary")
    // the FileScan's projected-column list is printed untruncated
    val scan = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    Seq("l_returnflag#", "l_linestatus#", "l_quantity#", "l_extendedprice#", "l_discount#")
      .foreach(c => assert(scan.contains(c), scan))
    // none of the other 6 lineitem columns should be read
    Seq("l_orderkey#", "l_partkey#", "l_suppkey#", "l_shipdate#", "l_tax#")
      .foreach(c => assert(!scan.contains(c), scan))
    // codegen shows up once AQE finalizes — execute, then check
    val df = SparkEntry.queries("q1_pricing_summary")(spark, Sf)
    df.collect() // drives THIS plan (count() would build a new one)
    // whole-stage codegen renders as "*(n) Operator" in the final plan
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("*(1)") || fin.contains("WholeStageCodegen"), fin.take(2000))
  }

  test("q5: dimension chain broadcasts, no cartesian/nested-loop join") {
    val p = plan("q5_region_volume")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("snapshot diff: one full-outer join, each side shuffled exactly once") {
    val t = Tables.nation
    val d = SnapshotDiff.diff(
      Tables.load(spark, Sf, t.name), DiffQueries.after(spark, Sf, t), t.pk)
    val p = d.queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), p.take(2000))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"expected 2 Exchanges (one per side), got $exchanges:\n$p")
  }

  test("semantic drift: one fused full-outer pass, no corpus re-join, no window") {
    val p = plan("diff_semantic_drift")
    // the diff and the drift score share ONE full-outer component join —
    // exactly one join operator of any kind in the whole plan
    assert(p.contains("FullOuter"), p.take(2000))
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joins == 1, s"expected the single fused diff+score join, got $joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(!p.contains("Window"), "drift must classify in the aggregation, not a window")
    // delta fetch must not rescan the corpus: before (1) + after union (2)
    val scans = p.linesIterator.count(_.contains("FileScan"))
    assert(scans <= 3, s"corpus re-scan crept in ($scans FileScans):\n$p")
  }

  test("fused report: no join operator anywhere in the plan") {
    val p = plan("diff_report")
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
      .foreach(j => assert(!p.contains(j), s"unexpected $j in fused report plan"))
  }

  test("range/interval joins: equi-join plans, never nested-loop") {
    Seq("events_range_join", "events_interval_join").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q planned a nested loop:\n${p.take(2000)}")
    }
  }

  // the single-row count frame legitimately cross-joins (that is how a
  // scalar subquery plans); the df join itself must be a broadcast HASH join
  test("text_tfidf_top3: document-frequency side broadcasts as a hash join") {
    val p = plan("text_tfidf_top3")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("text_stats: scan reads only doc_id and text") {
    val p = plan("text_stats")
    val scan = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("doc_id#") && scan.contains("text#"), scan)
    Seq("lang#", "source#", "n_chars#").foreach(c => assert(!scan.contains(c), scan))
  }

  test("orphan audit: every parent side is a broadcast or map-side-pruned join") {
    val p = plan("q_orphan_check")
    // six anti-join edges; the five dimension-sized parents must plan as
    // broadcast hash joins (the lineitem→orders edge may legitimately
    // shuffle) and nothing may fall back to a nested loop
    val bhj = p.linesIterator.count(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
    assert(bhj >= 4, s"expected >=4 broadcast anti joins, got $bhj:\n${p.take(3000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("gapfill: the whole pipeline shuffles only on user-keyed partitionings") {
    val p = plan("events_gapfill")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(e.contains("user_id#"), s"non-user-keyed shuffle:\n$e"))
  }

  test("inverted index: df cap joins before the posting-list aggregation") {
    // the collect_set aggregate must sit ABOVE the df-cap join in the plan —
    // posting arrays never materialize for uncapped terms
    val df = SparkEntry.queries("text_inverted_index")(spark, Sf)
    val p = df.queryExecution.optimizedPlan.toString
    val lines = p.linesIterator.toSeq
    val aggIdx = lines.indexWhere(l => l.contains("collect_set"))
    val joinIdx = lines.indexWhere(l => l.contains("Join Inner"))
    assert(aggIdx >= 0 && joinIdx >= 0 && aggIdx < joinIdx,
      s"collect_set at $aggIdx, join at $joinIdx:\n${p.take(3000)}")
  }

  test("window top-n: rank-limit pushes down as WindowGroupLimit before the shuffle") {
    // Spark 4 rewrites `row_number() <= k` into a WindowGroupLimit that
    // keeps only k rows per key on the map side — the partial top-k that
    // makes per-group top-n viable at 100 TB. Pin that our query shape
    // actually triggers it (a non-rank predicate or missing filter would
    // silently fall back to full window materialization).
    val p = SparkEntry.queries("q_window_topn")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("hive-partitioned layout: a lang predicate prunes partitions at planning time") {
    // the write path a 100 TB corpus would use: partition the files by the
    // filter column, so a reader touches only matching directories
    val dir = tempDir("graft_part_")
    Tables.load(spark, Sf, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val langs = Tables.load(spark, Sf, "documents")
      .select("lang").distinct().count()
    assert(langs > 1) // pruning must have something to prune
    val df = spark.read.parquet(dir).filter(org.apache.spark.sql.functions.col("lang") === "en")
    val p = df.queryExecution.executedPlan.toString
    val scan = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("PartitionFilters: [isnotnull(lang"), scan)
    // and only the en partition's files are read
    val pruned = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(pruned.contains(1), s"expected 1 selected partition, got $pruned")
  }

  test("merkle-pruned diff: dirty-bucket list broadcasts into semi joins") {
    val p = SparkEntry.queries("diff_merkle_pruned")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("incremental dedup and basket pairs: equi-joins only, no nested loop") {
    for (q <- Seq("dedup_incremental", "q_basket_pairs")) {
      val p = SparkEntry.queries(q)(spark, Sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        q + ": " + p.take(2000))
    }
  }

  test("dsir: weight table broadcasts and the top-k is a partial TakeOrdered") {
    val p = plan("pipeline_dsir_select")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // sort+limit must plan as TakeOrderedAndProject (per-partition partial
    // top-k), never a global Sort of the whole score frame
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("phash dedup: band candidate join is an equi-join, never cartesian") {
    val p = plan("mm_phash_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("manifest diff keeps the flagship's one-full-outer-join shape") {
    val p = plan("pipeline_manifest_diff")
    // two verdict arms over one pinned signal frame -> exactly one keyed
    // join, each side shuffled exactly once — same gate as the snapshot diff
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(joins == 1, s"expected 1 keyed join, got $joins:\n${p.take(2000)}")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"expected 2 Exchanges, got $exchanges:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("ccnet buckets: threshold table broadcasts into the label join") {
    val p = plan("text_ccnet_buckets")
    // the per-language tercile frame is <=#languages rows — labeling must
    // be a broadcast join, and nothing may plan cartesian/nested-loop
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    CacheScope.releaseAll()
  }

  test("length buckets: per-shard windows only, no global range sort") {
    val p = plan("pipeline_length_buckets")
    // batch assembly is a (source,width)-partitioned window — a global
    // Sort would surface as a rangepartitioning Exchange
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
    assert(p.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("rfm: exact ntile buckets without a single-partition sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = SparkEntry.queries("events_rfm")(spark, Sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the pid-partitioned rank windows")
    // every window is either partitioned (parallel) or sits on the
    // pid-count aggregate (<= shuffle.partitions rows by construction) —
    // no window may sort a data-scaling frame in one task
    wins.foreach { w =>
      val bounded = w.child.collectFirst {
        case a: Aggregate
          if a.groupingExpressions.exists(_.references.exists(_.name == "__gpid")) => a
      }.isDefined
      assert(w.partitionSpec.nonEmpty || bounded,
        s"unpartitioned window over a data-scaling frame:\n$w")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Exchange rangepartitioning"), p.take(2000))
    assert(!p.contains("ntile"), p.take(2000))
    CacheScope.releaseAll()
  }

  test("cms probes: top-k plans as TakeOrderedAndProject, no global window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("sketch_cms_terms")(spark, Sf)
    assert(df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "probe selection must not plan a window")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    CacheScope.releaseAll()
  }

  test("video shared frames: capped-bucket candidate join stays equi-join") {
    val p = plan("mm_video_shared_frames")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    CacheScope.releaseAll()
  }

  test("semantic dedup: only the K-row codebook routes via broadcast nested loop") {
    val p = plan("dedup_semantic")
    // the two BNLJs are the sampled-codebook scoring (K rows broadcast —
    // the K-way routing's inherent shape); everything corpus-sized must
    // stay an equi-join and nothing may plan cartesian
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"unexpected non-codebook nested loop ($bnlj):\n${p.take(2000)}")
  }

  test("late round-3 families: equi-joins only, never nested-loop/cartesian") {
    // k-means (iterative trainer), PageRank (power iterations), blocked
    // record linkage, and the priority sample: each must plan every join
    // as an equi-join — a nested loop anywhere means blocking/broadcast
    // discipline silently broke
    for (q <- Seq("ann_kmeans", "dedup_pagerank", "er_blocked_matches",
        "pipeline_priority_sample", "dedup_label_prop")) {
      val p = SparkEntry.queries(q)(spark, Sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        q + ": " + p.take(2000))
    }
  }

  test("k-means: the codebook side of every distance join broadcasts") {
    val p = SparkEntry.queries("ann_kmeans")(spark, Sf)
      .queryExecution.executedPlan.toString
    // every Lloyd step joins components against the O(k·Dim) codebook —
    // those must be broadcast hash joins (component side never re-shuffles
    // for the join), plus the final report aggregation
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("CMS sketch: O(d*w) counter frame broadcasts into the probe join") {
    val p = SparkEntry.queries("sketch_cms_terms")(spark, Sf)
      .queryExecution.executedPlan.toString
    // the bounded sketch side must broadcast (never shuffle the probes
    // against it) and nothing may plan quadratic
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("dq report: all row-level rules evaluate in one aggregation pass") {
    val p = SparkEntry.queries("dq_rules_report")(spark, Sf)
      .queryExecution.executedPlan.toString
    // one anti join for the FK rule and nothing quadratic; the row-level
    // rules ride a single scan of lineitem (expand for the distinct-PK
    // count is fine), so at most 3 scans total (rules + FK probe + parent)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans <= 3, s"expected <= 3 scans, got $scans\n" + p.take(3000))
  }

  test("encode step broadcasts the vocab; moment aggregates are one scan each") {
    val enc = SparkEntry.queries("text_encode_ids")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(enc.contains("BroadcastHashJoin") || enc.contains("BroadcastExchange"),
      enc.take(2000))
    for (q <- Seq("q_corr_pairs", "q_regression_line")) {
      val p = SparkEntry.queries(q)(spark, Sf).queryExecution.executedPlan.toString
      val scans = p.linesIterator.count(_.contains("FileScan parquet"))
      assert(scans == 1, s"$q: expected 1 scan, got $scans\n" + p.take(2000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    }
  }

  test("changefeed: the packed generic shape — one array compare, no wide side-columns") {
    val p = plan("diff_changefeed")
    // the full-outer diff join survives (duplicate-key multiplicity)...
    assert(p.contains("FullOuter"), p.take(2000))
    // ...but classification compares one packed string per side, and F1
    // is one zip_with over the two unpacked rows, never per-column
    // __b_/__a_ renames — that wide shape is exactly what cost 9 distinct
    // codegen plans before feedCompact
    assert(p.contains("zip_with"), p.take(2000))
    assert(!p.contains("__b_"), "wide per-column diff shape leaked back in")
  }

  test("doremi: the EG loop reads checkpoint leaves, not the bigram generator") {
    // loss and every round's weight frame are pinned: the returned plan
    // joins two <=#sources-row checkpoint leaves — the corpus-sized bigram
    // pass ran once during pinning and must be nowhere in the final tree
    val p = plan("pipeline_doremi_weights")
    assert(p.contains("Scan ExistingRDD"), s"no checkpoint leaf\n${p.take(1500)}")
    assert(!p.contains("FileScan"), "bigram generator lineage leaked past the pins")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    CacheScope.releaseAll()
  }

  test("bpe fertility: trained segmentation joins as a leaf, no cartesian") {
    // the per-word segmentation comes from the pinned trainer output (a
    // checkpoint leaf); the corpus rollup is equi-joins + aggregates only
    val p = plan("text_bpe_fertility")
    assert(p.contains("Scan ExistingRDD"), s"no checkpoint leaf\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    CacheScope.releaseAll()
  }

  test("dist drift: histogram aggregation, no global sort, no join at all") {
    // keyless histogram drift: two scan→explode arms union into ONE
    // grouped frame; shares and TVD are windows over the tiny result —
    // nothing joins and nothing range-sorts at any scale
    val p = plan("diff_dist_drift")
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
    assert(!p.contains("Join"), s"unexpected join in a keyless histogram:\n${p.take(2000)}")
    assert(p.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("substring spans: df-banded candidates, window never range-partitions globally") {
    // the positioned-gram frame is pinned (df count + both join sides read
    // the checkpoint leaf); candidate fan-out is equi-joined on fp — never
    // cartesian; the island window hash-partitions on (pair, diag) with a
    // partition-local sort — a global range sort would be a scale killer
    val p = plan("dedup_substring_spans")
    assert(p.contains("Scan ExistingRDD"), s"no checkpoint leaf\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
    assert(p.contains("WindowExec") || p.contains("Window"), p.take(2000))
    CacheScope.releaseAll()
  }

  test("matryoshka: narrow shortlist shuffle with partial top-k, one probe_id exchange") {
    // the corpus-sized prefix stage must shuffle only (probe_id,
    // neighbor_id, pcos) — WindowGroupLimit keeps 50/probe per map
    // partition BEFORE the exchange — and the rerank window reuses the
    // shortlist's probe_id partitioning (broadcast joins preserve it):
    // exactly one hash exchange, no range partitioning anywhere
    val p = plan("ann_matryoshka_topk")
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    val probeExchanges = "Exchange hashpartitioning\\(probe_id".r
      .findAllIn(p).size
    assert(probeExchanges == 1,
      s"expected exactly 1 probe_id exchange, saw $probeExchanges\n${p.take(2000)}")
  }

  test("matryoshka-over-IVF: only the K-row codebook routes via broadcast nested loop") {
    // the routed rung's BNLJs are the sampled-codebook scoring (K rows
    // broadcast — K-way routing's inherent shape; the subtree appears
    // twice because assignment and probe routing both consume it, same as
    // dedup_semantic); the prefix scoring and both rerank joins are
    // candidate equi-joins, and no global sort exists anywhere
    val p = plan("ann_matryoshka_ivf")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"unexpected non-codebook nested loop ($bnlj):\n${p.take(2000)}")
    CacheScope.releaseAll()
  }

  test("quality classifier: apply is a broadcast dot-product over the pinned features") {
    // the returned plan is the APPLY stage: the pinned feature frame
    // (checkpoint leaf — the trainer's K passes reused it) joins the
    // F+1-row fitted weights BROADCAST, and nothing plans cartesian or a
    // global sort — the 100 TB contract that scoring is projection-priced
    val p = plan("pipeline_quality_classifier")
    assert(p.contains("Scan ExistingRDD"), s"no checkpoint leaf\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
    CacheScope.releaseAll()
  }

  test("IMI router: only the coarse-codebook scoring routes via broadcast nested loop") {
    // the only BNLJ subtree is the vec × coarse-codebook scoring (C rows
    // broadcast — K-way routing's inherent shape), which appears twice
    // because assignment and probe routing both consume it (the
    // dedup_semantic pattern); the K-row fine-cell table is pinned to a
    // leaf, and everything corpus-sized downstream is an equi-join on
    // cell/list ids with no global sort anywhere
    val p = plan("ann_imi_topk")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"unexpected non-codebook nested loop ($bnlj):\n${p.take(2000)}")
    CacheScope.releaseAll()
  }

  test("curation e2e: sampling reads the pinned kept-docs leaf, rates broadcast") {
    // the kept-docs frame is pinned (feeds shares AND the sampled rollup);
    // the per-source rates frame joins into it broadcast — the corpus-side
    // work never shuffles on anything but the tiny grouped keys, and no
    // global sort exists anywhere in the funnel
    val p = plan("pipeline_curation_e2e")
    assert(p.contains("Scan ExistingRDD"), s"no checkpoint leaf\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    CacheScope.releaseAll()
  }

  test("iterative graph trainers: unrolled steps read the checkpoint leaf, not the generator") {
    // CacheScope.pinned truncates the static frame's lineage: the
    // returned plan must hang off an in-memory RDD scan, with the simhash
    // candidate generator (parquet scan + joins) nowhere in its tree —
    // that is what keeps per-stage task binaries small and repeat runs flat
    Seq("dedup_pagerank", "dedup_label_prop").foreach { q =>
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD"), s"$q: no checkpoint leaf\n${p.take(1500)}")
      assert(!p.contains("FileScan"), s"$q: generator lineage leaked past the checkpoint")
    }
  }

  test("merkle 128-bit summary: row data aggregates before any join") {
    import org.apache.spark.sql.functions.col
    val t = Tables.part
    val bn = graft.operators.Normalize.withKey(Tables.load(spark, Sf, t.name), t.pk)
    val an = graft.operators.Normalize.withKey(
      Tables.load(spark, Sf, t.name).withColumn("p_size", col("p_size") + 1), t.pk)
    val d = SnapshotDiff.merkleDirty128(bn, an, 64)
    val p = d.queryExecution.executedPlan.toString
    // two xxhash64 lanes in the summary projection
    assert(p.contains("xxhash64"), p.take(1500))
    // the only join is between the two <=64-row bucket summaries: every
    // HashAggregate sits BELOW the join in the tree, so the plan text
    // after the last Aggregate contains no Join operator
    val lastAgg = p.lastIndexOf("HashAggregate")
    val joinIdx = p.indexOf("SortMergeJoin") max p.indexOf("BroadcastHashJoin")
    assert(joinIdx >= 0 && lastAgg > joinIdx,
      "row data reached the join unaggregated:\n" + p.take(1500))
  }

  test("bottom-k sample sketch: partial map-side aggregation, single scan, one shuffle") {
    val p = SparkEntry.queries("sketch_sample_quantiles")(spark, Sf)
      .queryExecution.executedPlan.toString
    // TypedImperativeAggregate plans as ObjectHashAggregate with a partial
    // pass BEFORE the Exchange — the O(k) state, not the rows, crosses the
    // shuffle — and a merge pass after
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(p.contains("partial_bottomk_sample"), p.take(2000))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 Exchange, got $exchanges\n" + p.take(2000))
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected 1 scan, got $scans\n" + p.take(2000))
  }

  test("kmv setops: map-side WindowGroupLimit sketch build; per-source frames broadcast") {
    val df = SparkEntry.queries("sketch_kmv_setops")(spark, Sf)
    val p = df.queryExecution.executedPlan.toString
    // the bottom-k per source must prune map-side (row_number <= k as a
    // WindowGroupLimit) — without it the full per-source vocabulary
    // crosses the shuffle and the sketch build stops being the only
    // data-sized pass
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    // the O(sources) millis frames join the O(pairs·k) union sketch by
    // broadcast, never by shuffling the sketch side
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("registry-wide: no unpartitioned window over a data-scaling frame") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan,
      Window => LWindow, WindowGroupLimit}
    // The single-partition global sort has now been found (and killed)
    // three separate times by grep — sketch_cms_terms, events_rfm, and
    // the vocab helper, the last surviving because it used the
    // fully-qualified Window spelling the short-name grep missed. This
    // gate is the mechanical replacement: EVERY registry query's
    // optimized plan is swept, and any Window/WindowGroupLimit with an
    // empty partition spec fails unless (a) it sits on a __gpid offset
    // aggregate (globalRowNumber's frame: one row per shuffle partition,
    // bounded by construction) or (b) the query carries an allowlist
    // entry whose value ARGUES the bound. Adding a new global window
    // means adding a justification here, on purpose, in review.
    val boundedFrames: Map[String, String] = Map(
      "pipeline_classifier_calibration" ->
        ("the cumulative window runs over the DISTINCT-score aggregate: " +
          "perceptron scores are integer dot products of bounded bucket " +
          "counts with F+1 integer weights, so the frame is O(score range) " +
          "— thousands of rows at any corpus size, not O(docs)"),
      "pipeline_unimax_mix" ->
        ("every unpartitioned window runs over the per-LANGUAGE token-total " +
          "frame (one row per language, aggregated upstream and " +
          "broadcast-joined) — languages are an O(10^2) enumeration, " +
          "never corpus-sized"))
    def gpidBounded(w: LogicalPlan): Boolean = w.collectFirst {
      case a: Aggregate
        if a.groupingExpressions.exists(_.references.exists(_.name == "__gpid")) => a
    }.isDefined
    // a window whose input chain passes through a GlobalLimit is bounded
    // by that literal limit (k-means' K seed rows, DSIR's K survivors):
    // descend through unary nodes only, so a join below the window can't
    // smuggle an unlimited side past the check
    def limitBounded(p: LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => true
      case u if u.children.length == 1 => limitBounded(u.children.head)
      case _ => false
    }
    // sibling session with GraftExtensions (the TVF/SQL-function queries
    // need it; the shared base session deliberately stays vanilla)
    val shared = spark
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    try {
      for (name <- SparkEntry.queries.keys.toSeq.sorted) {
        val df = SparkEntry.queries(name)(s, Sf)
        val unpart: Seq[LogicalPlan] = df.queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
          case w: WindowGroupLimit if w.partitionSpec.isEmpty => w
        }
        val scaling = unpart.filterNot(w =>
          gpidBounded(w.children.head) || limitBounded(w.children.head))
        if (scaling.nonEmpty && !boundedFrames.contains(name))
          offenders += s"$name:\n${scaling.map(_.toString.take(600)).mkString("\n")}"
        CacheScope.releaseAll()
      }
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(shared)
      org.apache.spark.sql.SparkSession.setActiveSession(shared)
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows over potentially data-scaling frames in " +
        s"${offenders.size} queries — partition them, route through " +
        s"globalRowNumber, or argue a bound in the allowlist:\n" +
        offenders.mkString("\n---\n"))
  }

  test("frontier BFS: no recursion node; hop joins read checkpoint leaves") {
    val df = SparkEntry.queries("dedup_bfs_hops")(spark, Sf)
    val p = df.queryExecution.executedPlan.toString
    // the scale path is the level-synchronous loop — the path-enumerating
    // UnionLoop must never reappear in the engine plan
    assert(!p.contains("UnionLoop"), p.take(2000))
    // every hop scans the pinned edge frame as a compact RDD leaf (the
    // banded simhash generator must not be re-embedded per hop)
    assert(p.contains("Scan ExistingRDD"), p.take(2000))
    assert(!p.contains("FileScan parquet"),
      "a hop join re-embedded the pair generator:\n" + p.take(2000))
    CacheScope.releaseAll()
  }
}
