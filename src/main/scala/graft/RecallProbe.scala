package graft

import graft.operators.SimilarityQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Developer tool: measure routed-ANN-rung recall@k against the exact
  * baselines at ANY fixture scale — `runMain graft.RecallProbe <sfDir>`.
  *
  * The spec-level pins (`IvfRecallSpec`, `PqRecallSpec`) assert at the
  * sf0.001 fixture; routing geometry (K, C, NProbe lists, probe stride)
  * all derive from COUNT(*), so recall COULD drift with scale without any
  * spec noticing. This probe produces the per-scale datapoints recorded
  * in bench/SCALING.json (round-10 verdict item: two recall datapoints
  * per routed rung, sf0.1 and sf1, all above the fixture floors).
  *
  * Baselines: cosine rungs (sampled / Matryoshka-IVF / IMI) measure
  * against the exact brute-force cosine top-k (`ann_cosine_topk`); the
  * IVFADC rung measures against the exact quantized-L2 top-k (PQ
  * approximates L2, not cosine — `PqRecallSpec`'s baseline, generalized
  * to the scale's own probe stride). Prints one JSON line.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.create(cpus, "graft-recallprobe")

    def pairs(df: DataFrame): DataFrame =
      df.select(col("probe_id"), col("neighbor_id"))

    def recall(exact: DataFrame, approx: DataFrame): Double = {
      val e = exact.transform(CacheScope.cached)
      val n = e.count()
      val hit = e.join(approx, Seq("probe_id", "neighbor_id"), "left_semi").count()
      hit.toDouble / n
    }

    // exact quantized L2 via the codegen'd dot/norm identity
    // Σ(qa−qb)² = |qa|² − 2·qa·qb + |qb|² (fixed-Dim corpus ⇒ identical
    // values to the per-dimension sum) — the broadcast-probe shape runs
    // at sf10 where the former components-⋈-on-d formulation exploded
    def exactL2TopK(stride: Long): DataFrame = {
      val base = Tables.load(spark, sfDir, "embeddings")
      val probes = base.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("__ea"))
      val d2 = base
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("__eb"))
        .join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          graft.functions.QuantizedVec.ql2(col("__ea"), col("__eb")).as("l2"))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("l2"), col("neighbor_id"))
      d2.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= SimilarityQueries.TopK)
        .select(col("probe_id"), col("neighbor_id"))
    }

    val raw = Tables.load(spark, sfDir, "embeddings")
    val n = raw.count()
    val stride = SimilarityQueries.probeStride(n)

    val exactCos = CacheScope.cached(
      pairs(SimilarityQueries.queries("ann_cosine_topk")(spark, sfDir)))
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    out("ann_ivf_sampled") =
      recall(exactCos, pairs(SimilarityQueries.ivfSampledTopk(raw, n)))
    CacheScope.releaseAll() // between rungs: drop each rung's own pins
    out("ann_matryoshka_ivf") =
      recall(CacheScope.cached(pairs(
          SimilarityQueries.queries("ann_cosine_topk")(spark, sfDir))),
        pairs(SimilarityQueries.matryoshkaIvfTopk(raw, n)))
    CacheScope.releaseAll()
    out("ann_imi_topk") =
      recall(CacheScope.cached(pairs(
          SimilarityQueries.queries("ann_cosine_topk")(spark, sfDir))),
        pairs(SimilarityQueries.imiTopk(raw, n)))
    CacheScope.releaseAll()
    out("ann_ivfadc_topk") =
      recall(exactL2TopK(stride), pairs(SimilarityQueries.ivfAdcTopk(raw, n)))
    CacheScope.releaseAll()
    out("ann_bq_topk") =
      recall(CacheScope.cached(pairs(
          SimilarityQueries.queries("ann_cosine_topk")(spark, sfDir))),
        pairs(SimilarityQueries.bqTopk(raw, n)))
    CacheScope.releaseAll()
    // ann_filtered_topk is EXACT on its label-filtered subset (broadcast
    // probes × filtered scan, no routing stage), so this measures 1.0 by
    // construction — recorded so every retrieval rung carries per-scale
    // datapoints, and as a cross-check against an independently-built
    // exact baseline (a parity bug here would read < 1).
    locally {
      val corpusF = raw.filter(col("label") % 3 === 0)
        .select(col("vec_id"), col("embedding"),
          graft.functions.QuantizedVec.qnormsq(col("embedding")).as("nsq"))
      val probes = raw.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
          graft.functions.QuantizedVec.qnormsq(col("embedding")).as("p_nsq"))
      val exactF = broadcast(probes)
        .join(corpusF, col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          graft.functions.QuantizedVec.qcosine(col("p_emb"), col("embedding"),
            col("p_nsq"), col("nsq")).as("cos"))
        .withColumn("rank", row_number().over(Window.partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
        .filter(col("rank") <= SimilarityQueries.TopK)
        .select(col("probe_id"), col("neighbor_id"))
      out("ann_filtered_topk") = recall(exactF,
        pairs(SimilarityQueries.queries("ann_filtered_topk")(spark, sfDir)))
      CacheScope.releaseAll()
    }
    // ann_lsh_near_dup emits verified PAIRS (16-bit signature bucket →
    // cosine ≥ 0.95 check), so its recall is pair recall: the fraction of
    // ALL true near-dup pairs the single-band signature bucketing
    // surfaces. The exact baseline is the brute-force all-pairs scan over
    // the same planted corpus — quadratic, affordable as an offline probe
    // at these scales, never a production path. Guarded: above ~200k
    // vectors the all-pairs baseline itself is the blow-up (2×10¹² pairs
    // at sf10), so the rung is skipped rather than mis-measured.
    if (n <= 200000) {
      Tables.load(spark, sfDir, "embeddings").createOrReplaceTempView("embeddings")
      val corpus = spark.sql(SimilarityQueries.vecCorpusSql)
      val nc = corpus.select(col("vec_id"), col("embedding"),
        graft.functions.QuantizedVec.qnormsq(col("embedding")).as("nsq"))
        .transform(CacheScope.cached)
      val truePairs = nc.select(col("vec_id").as("vec_a"),
          col("embedding").as("emb_a"), col("nsq").as("nsq_a"))
        .join(nc.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
          col("nsq").as("nsq_b")), col("vec_a") < col("vec_b"))
        .filter(graft.functions.QuantizedVec.qcosine(col("emb_a"), col("emb_b"),
          col("nsq_a"), col("nsq_b")) >= 0.95)
        .select(col("vec_a"), col("vec_b"))
      val t = truePairs.transform(CacheScope.cached)
      val nt = t.count()
      // one entry PER GEOMETRY (round-12 verdict item): the routed
      // registry rung (single band below IvfLabelPathMax, LshBands past
      // it) plus the single-band geometry explicitly, so the banded
      // rung's recall lift over its predecessor is recorded at the same
      // scale it was measured low
      def pairRecall(found: DataFrame): Double = {
        val hit = t.join(found.select(col("vec_a"), col("vec_b")),
          Seq("vec_a", "vec_b"), "left_semi").count()
        if (nt == 0) 1.0 else hit.toDouble / nt
      }
      out("ann_lsh_near_dup") =
        pairRecall(SimilarityQueries.queries("ann_lsh_near_dup")(spark, sfDir))
      out("ann_lsh_near_dup_single_band") =
        pairRecall(SimilarityQueries.lshNearDupPairs(corpus, 1))
      CacheScope.releaseAll()
    }
    CacheScope.releaseSession()

    val fields = out.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    }.mkString(",")
    println(s"""{"recall_at_${SimilarityQueries.TopK}":{$fields},"n_vectors":$n,"sf_dir":"$sfDir"}""")
    spark.stop()
  }
}
