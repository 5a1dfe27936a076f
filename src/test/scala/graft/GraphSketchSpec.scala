package graft

import graft.operators.{EventsQueries, GraphOps, SketchQueries}
import org.apache.spark.sql.functions._

/** Round-3 additions: triangle counting, recursive-CTE BFS, changepoint
  * detection, and KMV set-operation estimates — each pinned on constructed
  * inputs with known answers (the fixture-scale results are pinned by the
  * DuckDB oracle gate). */
class GraphSketchSpec extends SparkTestBase {
  import spark.implicits._

  test("triangleStats counts each triangle once on a known graph") {
    // two triangles sharing vertex 3: {1,2,3} and {3,4,5}, plus a pendant
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val r = GraphOps.triangleStats(pairs).head()
    assert(r.getLong(r.fieldIndex("n_vertices")) == 6L)
    assert(r.getLong(r.fieldIndex("n_edges")) == 7L)
    assert(r.getLong(r.fieldIndex("n_triangles")) == 2L)
  }

  test("triangleStats is zero on a triangle-free graph") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val r = GraphOps.triangleStats(pairs).head()
    assert(r.getLong(r.fieldIndex("n_triangles")) == 0L)
  }

  test("pageRank matches an independent integer-recurrence reference on a known graph") {
    // star {1-2,1-3,1-4} plus an edge {3,4}: hub 1 must outrank everyone,
    // leaf 2 (degree 1) must rank last; scores checked EXACTLY against a
    // driver-side replay of the same floor-division recurrence
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = GraphOps.pageRank(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (3L, 4L))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    var s = deg.map { case (v, _) => v -> 1000000L }
    (1 to GraphOps.PrIters).foreach { _ =>
      val prev = s
      s = edges.groupBy(_._2).map { case (v, in) =>
        v -> (150000L + 85L * in.map { case (u, _) => prev(u) / deg(u) }.sum / 100L)
      }
    }
    assert(got == s, s"engine=$got reference=$s")
    assert(got(1L) > got(3L) && got(3L) == got(4L) && got(4L) > got(2L), got.toString)
  }

  test("labelPropagation splits a bridged barbell that connectedComponents merges") {
    // two triangles {1,2,3} and {4,5,6} joined by the bridge edge (3,4):
    // one reachability component, but LPA's neighbor-majority vote must
    // keep them as TWO communities (the single cross-label neighbor is
    // outvoted). Labels checked EXACTLY against a driver-side replay of
    // the same (count DESC, label ASC) argmax recurrence.
    val pairList = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L))
    val got = GraphOps.labelPropagation(pairList.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val nbrs = pairList.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var l = nbrs.keys.map(v => v -> v).toMap
    (1 to GraphOps.LpIters).foreach { _ =>
      val prev = l
      l = nbrs.map { case (v, ns) =>
        v -> ns.map(prev).groupBy(identity).toSeq
          .map { case (lab, os) => (lab, os.size) }
          .minBy { case (lab, c) => (-c, lab) }._1
      }
    }
    assert(got == l, s"engine=$got reference=$l")
    assert(Set(1L, 2L, 3L).map(got) != Set(4L, 5L, 6L).map(got),
      s"bridge must not merge the two triangles: $got")
    assert(Set(1L, 2L, 3L).map(got).size == 1 && Set(4L, 5L, 6L).map(got).size == 1,
      s"each triangle must agree on one label: $got")
    // contrast: reachability puts everything in one component
    val cc = GraphOps.connectedComponents(
      pairList.toDF("doc_a", "doc_b")
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .collect().map(_.getLong(1)).toSet
    assert(cc.size == 1)
  }

  test("connectedComponents converges on a 200-vertex chain within the round budget") {
    // the sf10 regression class: plain min-label propagation needs
    // DIAMETER rounds, so a copy-of-copy chain longer than maxIter used
    // to abort ("no convergence in 25 rounds"). The pointer-doubling
    // label-of-label hop makes convergence O(log diameter): a 200-hop
    // chain must finish inside the default 25-round budget with every
    // vertex labeled by the chain's minimum id — this test fails on the
    // pre-doubling implementation and pins the fix at fixture scale.
    val chain = (1L until 200L).map(i => (i, i + 1))
    val got = GraphOps.connectedComponents(
        chain.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 200)
    assert(got.forall(_._2 == 1L), s"chain not fully labeled: ${got.filter(_._2 != 1L).take(5).toSeq}")
    // and a disjoint 3-cycle keeps its own minimum
    val two = GraphOps.connectedComponents(
        (chain ++ Seq((500L, 501L), (501L, 502L), (502L, 500L)))
          .toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(two(502L) == 500L && two(200L) == 1L)
  }

  test("recursive-CTE BFS: hop distances from %10 seeds, bounded at 4 hops") {
    // chain from seed 10 longer than the hop bound + a separate seed pair;
    // symmetric-edge cycles must not diverge (the hop bound terminates them)
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (15L, 16L), (20L, 21L), (21L, 20L))
      .toDF("doc_a", "doc_b")
    val got = GraphOps.bfsHops(spark, pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 0L, 11L -> 1L, 12L -> 2L, 13L -> 3L, 14L -> 4L,
      20L -> 0L, 21L -> 1L))
  }

  test("changepoint finds the exact split of a step series") {
    // one type: 20 values of 10.0 then 30 of 25.0 → split at t=20, gap 15;
    // a constant series has every split score 0 → tiebreak picks t=1
    val step = (1 to 50).map(i =>
      ("step", java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        i.toLong, if (i <= 20) 10.0 else 25.0))
    val const = (1 to 10).map(i =>
      ("const", java.sql.Timestamp.valueOf(f"2024-01-01 01:00:${i % 60}%02d"),
        (100 + i).toLong, 7.5))
    val ev = (step ++ const).toDF("event_type", "ts", "event_id", "value")
    val byType = EventsQueries.changepoint(ev, EventsQueries.ChangepointSortBudget,
        EventsQueries.maxPerKey(ev)).collect()
      .map(r => r.getString(0) -> ((r.getLong(r.fieldIndex("split_idx")),
        r.getDouble(r.fieldIndex("mean_gap"))))).toMap
    assert(byType("step")._1 == 20L)
    assert(math.abs(byType("step")._2 - 15.0) < 1e-9)
    assert(byType("const")._1 == 1L && byType("const")._2 == 0.0)
  }

  test("hybrid RRF: fused ranking is consistent and dual-leg hits dominate") {
    val df = graft.SparkEntry.queries("ann_hybrid_rrf")(spark, Sf)
      .select(col("probe_id"), col("neighbor_id"), col("text_rank"),
        col("vec_rank"), col("rrf"), col("rank"))
      .collect()
    val byProbe = df.groupBy(_.getLong(0))
    assert(byProbe.nonEmpty)
    byProbe.foreach { case (_, rows) =>
      assert(rows.length <= graft.operators.SimilarityQueries.TopK)
      // rank order agrees with rrf descending
      val sorted = rows.sortBy(_.getLong(rows.head.fieldIndex("rank")))
      assert(sorted.map(_.getDouble(sorted.head.fieldIndex("rrf"))).toSeq
        == rows.map(_.getDouble(rows.head.fieldIndex("rrf"))).toSeq.sorted(Ordering[Double].reverse))
    }
    // every row's rrf is exactly the sum of its two reciprocal terms
    df.foreach { r =>
      val t = if (r.isNullAt(r.fieldIndex("text_rank"))) 0.0
        else 1.0 / (r.getLong(r.fieldIndex("text_rank")) + 60)
      val v = if (r.isNullAt(r.fieldIndex("vec_rank"))) 0.0
        else 1.0 / (r.getLong(r.fieldIndex("vec_rank")) + 60)
      assert(r.getDouble(r.fieldIndex("rrf")) == t + v)
    }
    // at least one fused result drew from BOTH legs somewhere
    assert(df.exists(r => !r.isNullAt(r.fieldIndex("text_rank"))
      && !r.isNullAt(r.fieldIndex("vec_rank"))))
  }

  test("KMV Jaccard estimate tracks the true overlap of synthetic vocabularies") {
    // A = tokens 0..99, B = 50..149 → true J = 50/150 ≈ 0.333;
    // C is disjoint from both → J = 0 exactly (no shared hashes at all)
    def doc(src: String, lo: Int, hi: Int) =
      (src, (lo until hi).map(i => s"tok$i").mkString(" "))
    val docs = Seq(doc("a", 0, 100), doc("b", 50, 150), doc("c", 1000, 1100))
      .toDF("source", "text")
    val got = SketchQueries.kmvSourceJaccard(docs)
      .select(col("source_a"), col("source_b"), col("jaccard_est"))
      .as[(String, String, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(math.abs(got(("a", "b")) - 1.0 / 3) < 0.15)
    assert(got(("a", "c")) == 0.0 && got(("b", "c")) == 0.0)
  }
}
