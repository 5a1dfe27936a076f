package graft

import graft.operators.SimilarityQueries
import org.apache.spark.sql.functions._

/** Pins the IVF ANN path's two contracts: it must not degrade into a
  * nested-loop scan (that's the brute-force baseline's job), and its
  * recall against the exact top-k must stay useful. */
class IvfRecallSpec extends SparkTestBase {

  test("ann_ivf_topk plans with no broadcast nested-loop join") {
    val df = SimilarityQueries.queries("ann_ivf_topk")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("sampled-codebook rung: recall@10 vs the exact baseline is >= 0.8") {
    // the branch that serves corpora past IvfLabelPathMax (i.e. the one
    // that actually runs at sf10 / 100 TB), forced at fixture scale by
    // calling it directly — same harness as the label-path pin below
    val raw = Tables.load(spark, Sf, "embeddings")
    val exact = SimilarityQueries.queries("ann_cosine_topk")(spark, Sf)
      .select(col("probe_id"), col("neighbor_id"))
    val sampled = SimilarityQueries.ivfSampledTopk(raw, raw.count())
      .select(col("probe_id"), col("neighbor_id"))
    val nExact = exact.count()
    val hit = exact.join(sampled, Seq("probe_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / nExact
    info(f"sampled recall@${SimilarityQueries.TopK} = $recall%.3f ($hit/$nExact)")
    // measured 0.940 under the round-10 two-level top-A assignment (up
    // from the flat router's 0.860) — floor at measured-minus-headroom
    assert(recall >= 0.85, f"sampled-path recall $recall%.3f below 0.85")
    // and it is the same function the registered oracle row exercises
    val viaRegistry = SparkEntry.queries("ann_ivf_sampled")(spark, Sf)
      .collect().map(_.toSeq).toSet
    val direct = SimilarityQueries.ivfSampledTopk(raw, raw.count()).collect().map(_.toSeq).toSet
    assert(viaRegistry == direct && viaRegistry.nonEmpty)
  }

  test("indexed-hybrid rung: top-10 overlap with the full-scan hybrid stays useful") {
    // the branch that serves ann_hybrid_rrf past IvfLabelPathMax: the
    // lexical leg is shared, only the vector leg routes through IVF, so
    // most fused results must survive the switch
    val plain = SparkEntry.queries("ann_hybrid_rrf")(spark, Sf)
      .select(col("probe_id"), col("neighbor_id"))
    val indexed = SparkEntry.queries("ann_hybrid_indexed")(spark, Sf)
      .select(col("probe_id"), col("neighbor_id"))
    val nPlain = plain.count()
    val hit = plain.join(indexed, Seq("probe_id", "neighbor_id"), "left_semi").count()
    val overlap = hit.toDouble / nPlain
    info(f"indexed-hybrid overlap@${SimilarityQueries.TopK} = $overlap%.3f ($hit/$nPlain)")
    assert(overlap >= 0.85, f"indexed-hybrid overlap $overlap%.3f below 0.85")
  }

  test("matryoshka rung: prefix-shortlist recall@10 vs the exact baseline") {
    // the 16-of-64-dim prefix shortlist (MatShortlist=50) must recover
    // most of the exact top-10 — the MRL serving contract: prefix order
    // approximates full order well enough that a small shortlist suffices
    val exact = SimilarityQueries.queries("ann_cosine_topk")(spark, Sf)
      .select(col("probe_id"), col("neighbor_id"))
    val mat = SparkEntry.queries("ann_matryoshka_topk")(spark, Sf)
      .select(col("probe_id"), col("neighbor_id"))
    val nExact = exact.count()
    val hit = exact.join(mat, Seq("probe_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / nExact
    info(f"matryoshka recall@${SimilarityQueries.TopK} = $recall%.3f ($hit/$nExact)")
    // measured 0.760 (deterministic arithmetic, fixed fixture) — floor at
    // measured-minus-headroom so a real recall regression fails CI
    assert(recall >= 0.65, f"matryoshka recall $recall%.3f below 0.65")
    // reranked scores are FULL-dim cosines: every returned cos must equal
    // the exact baseline's score for the same (probe, neighbor) pair
    val ex = SimilarityQueries.queries("ann_cosine_topk")(spark, Sf)
      .select(col("probe_id"), col("neighbor_id"), col("cos").as("ex_cos"))
    val mismatch = SparkEntry.queries("ann_matryoshka_topk")(spark, Sf)
      .join(ex, Seq("probe_id", "neighbor_id"))
      .filter(col("cos") =!= col("ex_cos")).count()
    assert(mismatch == 0, s"$mismatch reranked scores differ from exact full-dim cosine")
  }

  test("matryoshka-over-IVF rung: recall@10 vs the exact baseline stays useful") {
    // the branch that serves ann_matryoshka_topk past IvfLabelPathMax,
    // forced at fixture scale by calling it directly: IVF routing bounds
    // the candidate set BEFORE the prefix shortlist, so its recall is the
    // product of the two approximations — floor set measured-minus-headroom
    val raw = Tables.load(spark, Sf, "embeddings")
    val exact = SimilarityQueries.queries("ann_cosine_topk")(spark, Sf)
      .select(col("probe_id"), col("neighbor_id"))
    val routed = SimilarityQueries.matryoshkaIvfTopk(raw, raw.count())
      .select(col("probe_id"), col("neighbor_id"))
    val nExact = exact.count()
    val hit = exact.join(routed, Seq("probe_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / nExact
    info(f"matryoshka-IVF recall@${SimilarityQueries.TopK} = $recall%.3f ($hit/$nExact)")
    // measured 0.860 under the round-10 two-level top-A assignment (was
    // 0.840 flat) — floor at measured-minus-headroom
    assert(recall >= 0.75, f"matryoshka-IVF recall $recall%.3f below 0.75")
    // and it is the same function the registered oracle row exercises
    val viaRegistry = SparkEntry.queries("ann_matryoshka_ivf")(spark, Sf)
      .collect().map(_.toSeq).toSet
    val direct = SimilarityQueries.matryoshkaIvfTopk(raw, raw.count()).collect().map(_.toSeq).toSet
    assert(viaRegistry == direct && viaRegistry.nonEmpty)
  }

  test("IMI two-level rung: recall@10 vs the exact baseline stays useful") {
    // coarse-then-fine routing can only shrink the candidate set vs the
    // flat sampled rung (fine lists are reached through ImiCoarseProbe
    // coarse cells), so its bar sits below the flat rung's 0.8
    val raw = Tables.load(spark, Sf, "embeddings")
    val exact = SimilarityQueries.queries("ann_cosine_topk")(spark, Sf)
      .select(col("probe_id"), col("neighbor_id"))
    val imi = SimilarityQueries.imiTopk(raw, raw.count())
      .select(col("probe_id"), col("neighbor_id"))
    val nExact = exact.count()
    val hit = exact.join(imi, Seq("probe_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / nExact
    info(f"IMI recall@${SimilarityQueries.TopK} = $recall%.3f ($hit/$nExact)")
    // measured 0.960 (deterministic) — floor at measured-minus-headroom
    assert(recall >= 0.85, f"IMI recall $recall%.3f below 0.85")
    // and it is the same function the registered oracle row exercises
    val viaRegistry = SparkEntry.queries("ann_imi_topk")(spark, Sf)
      .collect().map(_.toSeq).toSet
    val direct = SimilarityQueries.imiTopk(raw, raw.count()).collect().map(_.toSeq).toSet
    assert(viaRegistry == direct && viaRegistry.nonEmpty)
  }

  test("routed rungs hold useful recall a scale decade up (sf0.1 geometry)") {
    // routing geometry (K lists, C cells, strides, probe batch) all
    // derives from COUNT(*), so recall can drift with scale without the
    // sf0.001 pins noticing — measure the routed rungs at the sf0.1
    // fixture (2000 vectors) and floor at measured-minus-headroom.
    // Measured r10 (two-level top-A assignment): sampled 0.740, IMI
    // 0.730, matryoshka-IVF 0.505 (routing × prefix, compounded); the
    // flat router measured 0.795 on the sampled rung at this geometry —
    // the bounded recall cost of the √K-shaped assignment bill. sf1
    // datapoints live in bench/SCALING.json (graft.RecallProbe).
    val sf01 = "/root/testdata/sf0.1"
    val raw = Tables.load(spark, sf01, "embeddings")
    val n = raw.count()
    val exact = SimilarityQueries.queries("ann_cosine_topk")(spark, sf01)
      .select(col("probe_id"), col("neighbor_id")).cache()
    val nExact = exact.count()
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      exact.join(df.select(col("probe_id"), col("neighbor_id")),
        Seq("probe_id", "neighbor_id"), "left_semi").count().toDouble / nExact
    val rSampled = recallOf(SimilarityQueries.ivfSampledTopk(raw, n))
    val rImi = recallOf(SimilarityQueries.imiTopk(raw, n))
    val rMat = recallOf(SimilarityQueries.matryoshkaIvfTopk(raw, n))
    info(f"sf0.1 recall@10: sampled $rSampled%.3f, imi $rImi%.3f, matIVF $rMat%.3f")
    assert(rSampled >= 0.65, f"sampled sf0.1 recall $rSampled%.3f below 0.65")
    assert(rImi >= 0.65, f"IMI sf0.1 recall $rImi%.3f below 0.65")
    assert(rMat >= 0.42, f"matryoshka-IVF sf0.1 recall $rMat%.3f below 0.42")
    exact.unpersist()
    CacheScope.releaseAll()
  }

  test("recall@10 vs the exact baseline is >= 0.5") {
    val exact = SimilarityQueries.queries("ann_cosine_topk")(spark, Sf)
      .select(col("probe_id"), col("neighbor_id"))
    val ivf = SimilarityQueries.queries("ann_ivf_topk")(spark, Sf)
      .select(col("probe_id"), col("neighbor_id"))
    val nExact = exact.count()
    val hit = exact.join(ivf, Seq("probe_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / nExact
    info(f"recall@${SimilarityQueries.TopK} = $recall%.3f ($hit/$nExact)")
    // measured 0.580 on the 10-fixed-label path (recall granularity is
    // 0.02 at 50 probes) — floor allows a 2-hit drop, no more
    assert(recall >= 0.54, f"recall $recall%.3f below 0.54")
    // and the candidate scan really is pruned: IVF scores fewer pairs than
    // brute force would (NProbe of 10 clusters)
    assert(SimilarityQueries.NProbe < 10)
  }
}
