package graft

import graft.operators.DedupQueries
import org.apache.spark.sql.functions._

/** Properties of the round-3 additions: prefix-filtered similarity join,
  * dedup survivor selection, time-series gap fill.
  */
class PipelineOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("unimax: epoch cap binds, uncapped languages split the rest equally") {
    val C = graft.operators.PipelineQueries.UniMaxEpochCap
    val E = graft.operators.PipelineQueries.UniMaxBudgetEpochs
    val rows = SparkEntry.queries("pipeline_unimax_mix")(spark, Sf).collect()
    val langs = Tables.load(spark, Sf, "documents")
      .select("lang").distinct().count()
    assert(rows.length == langs)
    val budget = E * rows.map(_.getAs[Long]("n_tokens")).sum
    rows.foreach { r =>
      // no language past the epoch cap, allocation consistent with epochs
      assert(r.getAs[Long]("alloc_tokens") <= C * r.getAs[Long]("n_tokens"))
      assert(math.abs(r.getAs[Double]("epochs") -
        r.getAs[Long]("alloc_tokens").toDouble / r.getAs[Long]("n_tokens")) < 1e-12)
    }
    // the whole budget is spent (up to the equal-split floor remainder)
    val spent = rows.map(_.getAs[Long]("alloc_tokens")).sum
    assert(spent <= budget && budget - spent < langs)
    // uncapped languages all receive the identical equal share
    val uncapped = rows.filter(r =>
      r.getAs[Long]("alloc_tokens") < C * r.getAs[Long]("n_tokens"))
    assert(uncapped.map(_.getAs[Long]("alloc_tokens")).distinct.length <= 1)
  }

  test("fuzzy decontamination: planted contamination recovered, banded plan") {
    val df = SparkEntry.queries("pipeline_decontaminate_fuzzy")(spark, Sf)
    // candidate generation must stay banded: benchmark side broadcast,
    // equi-join on (band, bkey) — never a corpus × benchmark cartesian.
    // Exactly ONE nested-loop join is allowed: the final 1 × 1 summary
    // crossJoin of the two scalar aggregate frames (the house pattern for
    // control-plane joins) — anything more means a data-sized side leaked
    // into a nested loop.
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1, plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    val r = df.collect().head
    val nBench = r.getAs[Long]("n_bench")
    assert(nBench > 0)
    // the exact-copy arm is a banding fixed point (identical signatures →
    // every band collides): all of it must be recovered
    assert(r.getAs[Long]("n_exact_found") == nBench,
      s"exact-copy arm ${r.getAs[Long]("n_exact_found")} of $nBench")
    // the appended-tail near-copies sit at high Jaccard — all recovered
    // at the fixture scales (measured 5/5 at sf0.001 and sf0.01)
    assert(r.getAs[Long]("n_near_found") == nBench,
      s"near-copy arm ${r.getAs[Long]("n_near_found")} of $nBench")
    // the PARAPHRASE arm is the query's reason to exist: zero shared
    // 8-grams (exact decontamination is blind to it), Jaccard ≈ 0.45,
    // recovered through the recall-oriented 8×2 banding with p ≈ 0.83
    // per twin — measured 4/5 (sf0.001) and 5/5 (sf0.01); floor at 3/5
    assert(r.getAs[Long]("n_para_found") * 5 >= nBench * 3,
      s"paraphrase arm ${r.getAs[Long]("n_para_found")} of $nBench below 3/5")
    CacheScope.releaseAll()
  }

  test("fuzzy decontamination: the paraphrase arm shares no 8-gram with its source") {
    // the planted paraphrase must actually defeat the exact pass — every
    // 8th token replaced caps unmutated runs at 7 tokens
    val every = graft.operators.PipelineQueries.FuzzyParaEvery
    val toks = (1 to 40).map(i => s"w$i")
    val mutated = toks.zipWithIndex.map { case (t, i0) =>
      if ((i0 + 1) % every == 0) s"qq${i0 + 1}" else t }
    val grams = (orig: Seq[String]) => orig.sliding(8).map(_.mkString(" ")).toSet
    assert(grams(toks).intersect(grams(mutated)).isEmpty)
  }

  test("classifier calibration: exact-rank deciles, monotone teacher agreement") {
    val rows = SparkEntry.queries("pipeline_classifier_calibration")(spark, Sf)
      .collect().sortBy(_.getAs[Long]("decile"))
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L).toSeq)
    // deciles partition the corpus: sizes differ by at most one and sum
    // to the scored-doc count; score ranges are non-overlapping ascending
    val sizes = rows.map(_.getAs[Long]("n_docs"))
    assert(sizes.max - sizes.min <= 1)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("max_score") <= b.getAs[Long]("min_score"),
        s"decile ranges overlap: ${a.getAs[Long]("max_score")} > ${b.getAs[Long]("min_score")}")
    }
    // calibration: the top of the score order must agree with the teacher
    // far more than the bottom (the thresholdability contract), and the
    // top/bottom thirds must separate — small local dips are expected on
    // a 50-doc decile, strict per-step monotonicity is not asserted
    val ppm = rows.map(_.getAs[Long]("teacher_keep_ppm"))
    assert(ppm.last >= ppm.head + 100000L,
      s"decile 10 (${ppm.last}) not above decile 1 (${ppm.head}) by 100k ppm")
    assert(ppm.takeRight(3).sum > ppm.take(3).sum,
      s"top-third agreement ${ppm.takeRight(3).sum} <= bottom-third ${ppm.take(3).sum}")
    CacheScope.releaseAll()
  }

  test("dsir: fixture run is a dense rank with non-increasing scores") {
    val K = graft.operators.PipelineQueries.DsirK
    val rows = SparkEntry.queries("pipeline_dsir_select")(spark, Sf).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(rows.length == K)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to K).toSeq)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("score") >= b.getAs[Double]("score"))
    }
    rows.foreach(r => assert(r.getAs[Long]("n_bigrams") >= 1L))
  }

  test("dsir: target-vocabulary impostors outrank off-domain docs") {
    // two disjoint vocabularies: target sources speak A; among the
    // non-target docs, "impostors" also speak A and "aliens" speak B. The
    // importance weight must pull every A-speaking doc (target + impostor)
    // above every alien, because the aliens' buckets have zero target mass
    // (smoothed ratio 1/(raw+1)) while A-buckets carry the full target
    // count. Dominance like this is invariant to the hash bucketing.
    val dir = tempDir("dsir-domains")
    val vocabA = "alpha beta gamma delta epsilon zeta"
    val vocabB = "omega psi chi phi upsilon tau"
    val docs =
      (0L to 9L).map(i => (i, vocabA, "en", "src0", 36L)) ++     // target
        (10L to 14L).map(i => (i, vocabA, "en", "src9", 36L)) ++ // impostors
        (15L to 19L).map(i => (i, vocabB, "en", "src9", 36L))    // aliens
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("pipeline_dsir_select")(spark, dir).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val aScore = (0L to 14L).map(byId(_).getAs[Double]("score"))
    val bScore = (15L to 19L).map(byId(_).getAs[Double]("score"))
    assert(aScore.min > bScore.max,
      s"A-speakers ${aScore.min} must outrank aliens ${bScore.max}")
    // identical text ⇒ identical score regardless of source membership
    assert(aScore.distinct.length == 1 && bScore.distinct.length == 1)
  }

  test("filter cascade: each rule fires, and the FIRST failing rule wins the reason") {
    val dir = tempDir("cascade")
    val repeats = Array.fill(12)("rep word one two five").mkString(" ")
    val docs = Seq(
      (0L, "tiny doc here", "en", "src0", 13L),                       // too_short
      (1L, "aa bb cc " + Array.fill(9)("xy").mkString(" "), "en", "src0", 9L), // mean len 2 < 3
      (2L, "extraordinarily sesquipedalian vocabularies " +
        "overrepresented disproportionately hereabouts", "en", "src0", 90L),   // mean len > 10
      (3L, "the " + repeats, "en", "src0", 60L),                      // repetition
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron pi rho sigma tau upsilon", "en", "src0", 60L), // stopword
      (5L, "the quick brown fox jumps over a lazy dog near water", "en", "src0", 52L), // kept
      // fails word_length AND stopword: word_length (earlier rule) must win
      (6L, "zz qq ww ee rr tt yy uu ii oo", "en", "src0", 29L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("pipeline_filter_cascade")(spark, dir).collect()
    val reason = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(reason(0L) == "too_short")
    assert(reason(1L) == "word_length" && reason(2L) == "word_length")
    assert(reason(3L) == "repetition")
    assert(reason(4L) == "stopword")
    assert(reason(5L) == "kept")
    assert(reason(6L) == "word_length", "earlier rule must take the attribution")
    rows.foreach(r => assert(r.getAs[Boolean]("keep") == (r.getAs[String]("reason") == "kept")))
  }

  test("quality classifier: student agrees with the cascade teacher on most docs") {
    // distillation contract: a linear probe on hashed unigrams must
    // recover the rule cascade's verdict well above chance on the fixture
    // corpus (floor measured-minus-headroom, the recall-pin discipline)
    val rows = SparkEntry.queries("pipeline_quality_classifier")(spark, Sf).collect()
    assert(rows.nonEmpty)
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    val nAgree = rows.map(_.getAs[Long]("n_agree")).sum
    val acc = nAgree.toDouble / nDocs
    info(f"classifier accuracy vs cascade teacher = $acc%.3f ($nAgree/$nDocs)")
    // measured 0.922 (deterministic trainer, fixed fixture) — floor at
    // measured-minus-headroom so a real distillation regression fails CI
    assert(acc >= 0.85, f"distilled accuracy $acc%.3f below 0.85")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pred_keep") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_agree") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("accuracy_ppm") ==
        r.getAs[Long]("n_agree") * 1000000L / r.getAs[Long]("n_docs"))
    }
  }

  test("manifest diff: policy tightening only UPDATEs, and never rescues a drop") {
    val rows = SparkEntry.queries("pipeline_manifest_diff")(spark, Sf).collect()
    assert(rows.nonEmpty, "v2 must flip a real slice of the corpus")
    // both manifests cover the identical doc set — a policy change can
    // never INSERT or DELETE a manifest row
    rows.foreach(r => assert(r.getAs[String]("diff_status") == "UPDATED"))
    val bySide = rows.groupBy(_.getAs[String]("doc_id"))
    bySide.foreach { case (id, prs) =>
      assert(prs.length == 2, s"doc $id must emit a BEFORE+AFTER pair")
      val b = prs.find(_.getAs[String]("side") == "BEFORE").get
      val a = prs.find(_.getAs[String]("side") == "AFTER").get
      // monotone: tightening can flip keep true->false, never false->true
      assert(!(b.getAs[String]("keep") == "false" && a.getAs[String]("keep") == "true"),
        s"doc $id was rescued by a stricter policy")
      assert(a.getAs[String]("reason") != b.getAs[String]("reason") ||
        a.getAs[String]("keep") != b.getAs[String]("keep"))
    }
  }

  test("unimax: a skewed corpus exercises both the cap and the equal-share branch") {
    // the fixture mix at test scale is flat enough that no language hits
    // the epoch cap; a constructed 1-tiny-vs-1-huge corpus forces the
    // waterfilling into its mixed regime — tiny capped at C epochs, the
    // head language soaking up the remainder
    val C = graft.operators.PipelineQueries.UniMaxEpochCap
    val dir = tempDir("unimax-skew")
    val docs =
      Seq((0L, "small words only", "xx", "web", 16L)) ++
        (1L to 40L).map(i => (i, "big corpus language repeated tokens here", "en", "web", 40L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("pipeline_unimax_mix")(spark, dir).collect()
    val byLang = rows.map(r => r.getAs[String]("lang") -> r).toMap
    // xx: 3 tokens vs budget 2×(3+240)=486, fair share 243 ≫ 9 = C×3 → capped
    assert(byLang("xx").getAs[Long]("alloc_tokens") ==
      C * byLang("xx").getAs[Long]("n_tokens"))
    assert(byLang("xx").getAs[Double]("epochs") == C.toDouble)
    // en: gets everything the capped language left
    assert(byLang("en").getAs[Long]("alloc_tokens") <
      C * byLang("en").getAs[Long]("n_tokens"))
    val budget = 2L * rows.map(_.getAs[Long]("n_tokens")).sum
    assert(rows.map(_.getAs[Long]("alloc_tokens")).sum == budget)
  }

  test("prefix filtering loses no pair: result equals all-shingle-join Jaccard at t=0.5") {
    // brute-force candidates: join on EVERY shingle (correct but unbounded
    // fan-out); the prefix filter must reproduce its >= 0.5 result exactly
    val sh = DedupQueries.shingleHashes(DedupQueries.corpus(spark, Sf)).persist()
    val a = sh.select(col("doc_id").as("doc_a"), col("sh64"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh64"))
    val cand = a.join(b, "sh64").filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val brute = DedupQueries.jaccard(cand, sh, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val pref = SparkEntry.queries("dedup_prefix_jaccard")(spark, Sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pref == brute && brute.nonEmpty)
  }

  test("survivors: exactly one kept doc per cluster, and it is the cluster minimum") {
    val s = SparkEntry.queries("dedup_survivors")(spark, Sf)
      .select("doc_id", "canonical_id", "kept").as[(Long, Long, Boolean)].collect()
    val byCluster = s.groupBy(_._2)
    byCluster.foreach { case (canon, members) =>
      assert(members.count(_._3) == 1, s"cluster $canon kept != 1")
      assert(members.filter(_._3).head._1 == canon)
      assert(members.map(_._1).min == canon, s"canonical $canon is not the min doc_id")
    }
    assert(byCluster.exists(_._2.length > 1)) // at least one real near-dup cluster
  }

  test("gapfill: grid is dense per user, filled_value carries the last observed total") {
    val g = SparkEntry.queries("events_gapfill")(spark, Sf)
      .select("user_id", "day", "filled_value", "is_observed")
      .as[(Long, Long, Option[Double], Boolean)].collect()
    g.groupBy(_._1).foreach { case (_, rows) =>
      val days = rows.map(_._2).sorted
      assert(days.distinct.length == days.length &&
        days.length == (days.last - days.head + 1), "grid has holes or duplicates")
      // first day of every span is observed (grid starts at min observed day)
      assert(rows.minBy(_._2)._4)
      // forward fill: every row's value equals the latest observed day's value
      val obs = rows.filter(_._4).map(r => r._2 -> r._3).toMap
      rows.foreach { r =>
        val lastObs = obs.keys.filter(_ <= r._2).max
        assert(r._3 == obs(lastObs), s"fill mismatch at user day ${r._2}")
      }
    }
    assert(g.exists(!_._4)) // the fixture actually has gaps
  }

  test("priority sample: exactly k per stratum, biased toward heavier docs") {
    val sample = SparkEntry.queries("pipeline_priority_sample")(spark, Sf)
      .select("lang", "weight").as[(String, Long)].collect()
    val perLang = sample.groupBy(_._1).view.mapValues(_.length).toMap
    perLang.values.foreach(n =>
      assert(n == operators.PipelineQueries.PrioritySampleK, perLang.toString))
    // priority = hash/weight makes heavier docs win systematically: the
    // sample's mean weight must exceed the corpus mean (deterministic on
    // the fixture — both sides are exact)
    val sampleMean = sample.map(_._2).sum.toDouble / sample.length
    val corpusMean = Tables.load(spark, Sf, "documents")
      .selectExpr("CAST(least(900, greatest(100, n_chars div 2)) AS BIGINT)")
      .as[Long].collect()
    assert(sampleMean > corpusMean.sum.toDouble / corpusMean.length,
      s"sample mean $sampleMean not above corpus mean")
  }

  test("doremi: weights stay a simplex and move toward the harder domains") {
    val W = graft.operators.PipelineQueries.DoremiWeightScale
    val rows = SparkEntry.queries("pipeline_doremi_weights")(spark, Sf).collect()
    val nd = rows.length
    assert(nd >= 2, "needs at least two domains to reweight")
    val weights = rows.map(_.getAs[Long]("weight_ppm"))
    // renormalized every round: sums to the ppm scale up to the floor-div
    // remainder, every domain keeps positive mass
    assert(weights.forall(_ > 0L))
    assert(weights.sum <= W && W - weights.sum < nd,
      s"weight sum ${weights.sum} not within floor remainder of $W")
    // EG direction: the hardest domain ends above uniform, the easiest
    // below (strict on the fixture — per-source losses genuinely differ)
    val uniform = W / nd
    val byLoss = rows.sortBy(_.getAs[Long]("loss_scaled"))
    assert(byLoss.last.getAs[Long]("weight_ppm") > uniform,
      s"hardest domain not upweighted: ${byLoss.last}")
    assert(byLoss.head.getAs[Long]("weight_ppm") < uniform,
      s"easiest domain not downweighted: ${byLoss.head}")
    // weight order follows loss order (the linearized-EG monotonicity)
    val lossAsc = byLoss.map(_.getAs[Long]("weight_ppm"))
    assert(lossAsc.zip(lossAsc.tail).forall { case (a, b) => a <= b },
      s"weights not monotone in loss: ${lossAsc.mkString(",")}")
  }

  test("bpe fertility: every language needs at least one subword per word") {
    val rows = SparkEntry.queries("text_bpe_fertility")(spark, Sf).collect()
    val langs = Tables.load(spark, Sf, "documents")
      .select("lang").distinct().count()
    assert(rows.length == langs)
    rows.foreach { r =>
      val (w, s) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_subwords"))
      assert(w > 0 && s >= w, s"fertility < 1 impossible: $r")
      assert(math.abs(r.getAs[Double]("fertility") - s.toDouble / w) < 1e-12)
    }
    // 8 merges cannot collapse every multi-char word to one symbol: some
    // language must still fragment
    assert(rows.exists(r => r.getAs[Double]("fertility") > 1.0))
  }

  test("curation e2e: funnel narrows, accept rates target the doremi mixture") {
    val rows = SparkEntry.queries("pipeline_curation_e2e")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (in, kept, samp) = (r.getAs[Long]("n_input"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("n_sampled"))
      // the funnel only narrows: input ⊇ cascade+dedup survivors ⊇ sample
      assert(in >= kept && kept >= samp && samp >= 0, r.toString)
      assert(r.getAs[Long]("accept_ppm") >= 0 && r.getAs[Long]("accept_ppm") <= 1000000L)
      assert(r.getAs[Long]("sampled_tokens") >= samp, "docs kept by cascade have >= 1 token each")
    }
    // the max weight/share ratio source accepts everything (rate 1e6 by
    // the rejection-sampling normalization) and something is sampled
    assert(rows.exists(_.getAs[Long]("accept_ppm") == 1000000L), rows.mkString(";"))
    assert(rows.map(_.getAs[Long]("n_sampled")).sum > 0)
    // shares are a simplex over the surviving sources (floor-div remainder)
    val shp = rows.map(_.getAs[Long]("share_ppm"))
    assert(shp.sum <= 1000000L && 1000000L - shp.sum < rows.length)
    // acceptance follows the weight/share ratio ordering (monotone in it)
    val byRatio = rows.sortBy(r =>
      r.getAs[Long]("weight_ppm") * 1000000L /
        math.max(1L, r.getAs[Long]("share_ppm")))
    val acc = byRatio.map(_.getAs[Long]("accept_ppm"))
    assert(acc.zip(acc.tail).forall { case (a, b) => a <= b },
      s"accept rates not monotone in weight/share: ${acc.mkString(",")}")
  }

  test("dist drift: mutation's emergent status surfaces; TVD is bounded and consistent") {
    val rows = SparkEntry.queries("diff_dist_drift")(spark, Sf).collect()
    val status = rows.filter(_.getAs[String]("col_name") == "o_orderstatus")
    // the orders mutation writes status 'X' on %10=4 rows: a bucket that
    // exists only in the after snapshot — the emergent-category alert
    val x = status.filter(_.getAs[String]("bucket") == "X")
    assert(x.length == 1 && x.head.getAs[Long]("before_n") == 0L
      && x.head.getAs[Long]("after_n") > 0L, status.mkString(";"))
    for (grp <- rows.groupBy(_.getAs[String]("col_name")).values) {
      // ppm shares sum to <= 1e6 (floor-div) and within remainder of it
      val bp = grp.map(_.getAs[Long]("before_ppm"))
      assert(bp.sum <= 1000000L && 1000000L - bp.sum < grp.length)
      // every row of a column carries the same TVD, equal to sum|p-q|/2
      val tvd = grp.map(_.getAs[Long]("col_tvd_ppm")).distinct
      assert(tvd.length == 1)
      val expect = grp.map(r =>
        math.abs(r.getAs[Long]("before_ppm") - r.getAs[Long]("after_ppm"))).sum / 2
      assert(tvd.head == expect && tvd.head >= 0 && tvd.head <= 1000000L)
    }
    // the mutation moves BOTH tracked columns (deletes/inserts alone shift
    // the bands): nonzero drift everywhere
    assert(rows.groupBy(_.getAs[String]("col_name")).values
      .forall(_.head.getAs[Long]("col_tvd_ppm") > 0L))
  }
}
