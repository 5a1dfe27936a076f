package graft

import graft.functions.FreqSketch
import graft.operators.{Multimodal, RangeJoin}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-3 operators: bucketized range join, Misra-Gries heavy-hitter
  * candidates, bloom-filter semi-join pruning, WAV header decode. */
class Round3OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  test("bucketized range join == naive inequality join, without a nested-loop plan") {
    // deterministic pseudo-random points and overlapping ranges
    val points = spark.range(0, 2000)
      .select(col("id"), ((col("id") * 7919 % 1000) / 2.0).as("p"))
    val ranges = spark.range(0, 80)
      .select(col("id").as("rid"), (col("id") * 6.0).as("lo"),
        (col("id") * 6.0 + col("id") % 17 + 1.0).as("hi"))
    val bucketized = RangeJoin.bucketized(points, ranges, "p", "lo", "hi", 8.0)
      .select("id", "rid").as[(Long, Long)].collect().toSet
    val naive = points.join(ranges, col("p") >= col("lo") && col("p") < col("hi"))
      .select("id", "rid").as[(Long, Long)].collect().toSet
    assert(bucketized == naive)
    assert(naive.nonEmpty)
    val plan = RangeJoin.bucketized(points, ranges, "p", "lo", "hi", 8.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
  }

  test("MG candidates are a superset of items above the n/(k+1) threshold") {
    // skewed stream: item i appears (40-i)^2 times, i in 0..39
    val rows = (0 until 40).flatMap(i => Seq.fill((40 - i) * (40 - i))(s"item_$i"))
    val df = spark.sparkContext.parallelize(rows, 16).toDF("w")
    val k = 15
    val cands = df.agg(FreqSketch.mgCandidates(col("w"), k).as("c"))
      .select(explode(col("c")).as("w")).as[String].collect().toSet
    assert(cands.size <= k)
    val n = rows.size
    val mustKeep = rows.groupBy(identity).collect {
      case (w, occ) if occ.size.toLong * (k + 1) > n => w
    }.toSet
    assert(mustKeep.nonEmpty && mustKeep.subsetOf(cands), s"missing: ${mustKeep -- cands}")
  }

  test("text_heavy_hitters equals the brute-force GROUP BY/HAVING result") {
    val hh = SparkEntry.queries("text_heavy_hitters")(spark, Sf)
      .as[(String, Long)].collect().toMap
    val words = Tables.load(spark, Sf, "documents")
      .select(explode(graft.functions.Hashing.tokens(col("text"))).as("word"))
    val total = words.count()
    val brute = words.groupBy("word").count()
      .filter(col("count") * 64 > total)
      .as[(String, Long)].collect().toMap
    assert(hh == brute && brute.nonEmpty)
  }

  test("bloom_agg/bloom_contains: no false negatives over the build side") {
    val shared = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import s.implicits._
      (1L to 5000L).toDF("k").createOrReplaceTempView("build")
      // every build-side key must pass its own filter (bloom guarantees
      // zero false negatives; false positives are allowed)
      val misses = s.sql(
        """SELECT COUNT(*) AS n FROM build
          |WHERE NOT bloom_contains((SELECT bloom_agg(k, 10000) FROM build), k)"""
          .stripMargin).collect().head.getLong(0)
      assert(misses == 0L)
      // plan shape of the real query: the might_contain filter must sit on
      // the probe side BELOW the exact semi join (prune before shuffle)
      val df = SparkEntry.queries("q_bloom_semi_join")(s, Sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val filterLine = p.linesIterator.indexWhere(_.contains("might_contain"))
      val joinLine = p.linesIterator.indexWhere(_.contains("LeftSemi"))
      assert(filterLine > joinLine && joinLine >= 0,
        s"expected might_contain below the semi join:\n${p.take(3000)}")
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("connected components: chains, cliques, and singleton-free output") {
    import graft.operators.GraphOps
    // two components: a 6-vertex chain 10-11-...-15 (needs several
    // propagation rounds) and a triangle 20-21-22; vertex 99 isolated (no
    // edges → absent from output)
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val cc = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert((10L to 15L).forall(cc(_) == 10L))
    assert((20L to 22L).forall(cc(_) == 20L))
    assert(cc.size == 9)
  }

  test("applyDiff roundtrip reconstructs the after snapshot, even with duplicate keys") {
    import graft.operators.{DiffQueries, Normalize, SnapshotDiff}
    val t = Tables.lineitem // the fixture table with real duplicate PKs
    val before = Tables.load(spark, Sf, t.name)
    val after = DiffQueries.after(spark, Sf, t)
    val d = SnapshotDiff.diffOneWinner(before, after, t.pk)
    val rebuilt = SnapshotDiff.applyDiff(before, d, t.pk)
      .collect().map(_.toSeq).toSet
    val expectedDf = SnapshotDiff.oneRowPerKey(Normalize.withKey(after, t.pk))
    val expected = expectedDf
      .select(expectedDf.columns.filterNot(_ == Normalize.KeyCol).map(col)
        :+ col(Normalize.KeyCol): _*)
      .collect().map(_.toSeq).toSet
    assert(rebuilt == expected && rebuilt.nonEmpty)
  }

  test("incremental aggregate fold equals a direct recompute over the after snapshot") {
    import graft.operators.DiffQueries
    val folded = SparkEntry.queries("diff_incremental_agg")(spark, Sf)
      .as[(String, Long, Double)].collect().toSet
    val direct = DiffQueries.after(spark, Sf, Tables.orders)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
      .as[(String, Long, Double)].collect().toSet
    assert(folded == direct && folded.nonEmpty)
  }

  test("profiler: hash-aggregable per-column plan (no Expand, no SortAggregate)") {
    val q = SparkEntry.queries("profile_orders")(spark, Sf)
    val plan = q.queryExecution.executedPlan.toString
    // r14: per-column group-then-reduce — no Expand row multiplication
    // (the old multi-countDistinct form planned Expand x7 into wide-key
    // SortAggregates), and every aggregation stage hash-aggregates
    assert(!plan.linesIterator.exists(_.contains("Expand")), plan.take(3000))
    assert(!plan.linesIterator.exists(_.contains("SortAggregate")), plan.take(3000))
    val rows = q.as[(String, Long, Long, String, String)].collect()
    val n = Tables.load(spark, Sf, "orders").count()
    assert(rows.map(_._1).toSet == Tables.orders.cols.toSet)
    rows.foreach { case (c, nulls, distinct, mn, mx) =>
      assert(nulls == 0L, s"$c: fixtures are null-free")
      assert(distinct >= 1 && distinct <= n, s"$c: distinct=$distinct n=$n")
      assert(mn != null && mx != null)
    }
  }

  test("three-way merge: identity is empty; degenerate right=base reduces to the two-way diff") {
    import graft.operators.{DiffQueries, SnapshotDiff}
    val t = Tables.orders
    val base = Tables.load(spark, Sf, t.name)
    // merge(A, A, A) = ∅ — no branch changed anything
    assert(SnapshotDiff.threeWayMerge(base, base, base, t.pk).isEmpty)
    // right branch untouched → every row is LEFT_CHANGE and the key set
    // is exactly the two-way diff's key set
    val left = DiffQueries.after(spark, Sf, t)
    val m = SnapshotDiff.threeWayMerge(base, left, base, t.pk)
    assert(m.filter(col("merge_status") =!= "LEFT_CHANGE").isEmpty)
    val mergeKeys = m.select("__key").as[String].collect().toSet
    val diffKeys = SnapshotDiff.diff(base, left, t.pk)
      .select("__key").as[String].collect().toSet
    assert(mergeKeys == diffKeys && mergeKeys.nonEmpty)
    // merged_fp is NULL exactly on CONFLICT rows (full three-way run)
    val full = SparkEntry.queries("diff_three_way")(spark, Sf)
    assert(full.filter(col("merged_fp").isNull =!= (col("merge_status") === "CONFLICT")).isEmpty)
    assert(full.filter(col("merge_status") === "CONFLICT").count() > 0)
  }

  test("WAV decode parses synthesized headers and rejects corrupt ones") {
    val content = Array.fill[Byte](1001)(42)
    val f = Multimodal.decodeWav(7L, Multimodal.wavBytes(22050, 2, content))
    assert(f.sample_rate == 22050 && f.n_channels == 2 && f.bits_per_sample == 16)
    assert(f.n_samples == 1001 / 4 && f.duration_ms == (1001 / 4) * 1000L / 22050)
    val corrupt = Multimodal.wavBytes(22050, 2, content)
    corrupt(28) = (corrupt(28) ^ 1).toByte // break the byte-rate field
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(7L, corrupt)
    }
  }

  test("incremental LSH dedup == full LSH pairs restricted to delta-vs-base") {
    val inc = SparkEntry.queries("dedup_incremental")(spark, Sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val full = SparkEntry.queries("dedup_minhash_lsh")(spark, Sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      // cross pairs only: one side base (< 100000), one side delta
      .filter { case (lo, hi) => lo < 100000 && hi >= 100000 }.toSet
    assert(inc.nonEmpty)
    assert(inc == full)
  }

  test("basket pairs are symmetric-free and bounded by per-basket fan-out") {
    val pairs = SparkEntry.queries("q_basket_pairs")(spark, Sf)
    assert(pairs.filter(col("part_a") >= col("part_b")).isEmpty)
    // every pair count is at most the number of baskets containing part_a
    val perPart = Tables.load(spark, Sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_partkey")).agg(count(org.apache.spark.sql.functions.lit(1)).as("n_a"))
    val bad = pairs.join(perPart.withColumnRenamed("l_partkey", "part_a"), "part_a")
      .filter(col("n_baskets") > col("n_a"))
    assert(bad.isEmpty)
  }
}
