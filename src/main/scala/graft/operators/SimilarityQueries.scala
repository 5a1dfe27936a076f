package graft.operators

import graft.CacheScope
import graft.Tables
import graft.functions.{Hashing, PqCodec, QuantizedVec}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`array<float>`, 64-dim).
  *
  * Every top-k rung of the ANN ladder is a composition of three stages:
  *   - a ROUTER picks (probe, neighbor) candidates for the probe batch
  *     ([[probeBatch]]): the flat broadcast-probe scan ([[flatScan]],
  *     every corpus vector), label IVF ([[labelRouted]]), sampled IVF
  *     ([[sampledCandidates]]) or IMI ([[imiCandidates]]);
  *   - an optional SHORTLIST scorer culls them in a compressed domain:
  *     Matryoshka prefix cosine ([[prefixShortlist]]), sign-bit Hamming
  *     ([[bqTopk]]) or PQ ADC ([[pqStages]]);
  *   - a RERANK keeps the exact top-k per probe: cosine
  *     ([[topkRerank]], [[flatCosineTopk]]) or L2 ([[pqRerank]]).
  * Per-group ranking is one helper ([[topPer]]). Past [[IvfLabelPathMax]]
  * vectors the auto-selecting names swap their flat or label router for
  * the sampled one ([[bySize]]). `ann_lsh_near_dup` buckets the corpus by
  * random-hyperplane sign signatures and verifies only same-bucket pairs.
  *
  * All scores derive from integer-quantized arithmetic (see
  * [[QuantizedVec]]) so Spark and DuckDB agree bit-for-bit.
  */
object SimilarityQueries {
  type Q = (SparkSession, String) => DataFrame

  val NumPlanes = 16
  val Dim = 64
  val TopK = 10

  /** IVF probe width: clusters scanned per query (of 10 label clusters).
    * For the SAMPLED family, whose list count K ∝ n, this is only the
    * FLOOR — see [[nprobeFor]]. */
  val NProbe = 4

  /** Vectors-per-list target for the sampled-codebook IVF rung: the list
    * count K = n / target grows with the data so candidates per probe stay
    * nprobe × target. */
  val IvfListTarget = 2000L

  /** K = n / [[IvfListTarget]] fine lists, floored at 10 — ONE definition
    * shared by the routing build, the probe fan-out ladder and (mirrored
    * in SQL) the oracle params CTEs. */
  private[graft] def fineListCount(n: Long): Long =
    math.max(10L, n / IvfListTarget)

  /** PROBE-SIDE FAN-OUT LADDER (round 11; measured round 12). A fixed
    * [[NProbe]] over a K ∝ n codebook means the probed fraction NProbe/K
    * shrinks a decade per decade; the first decade where routing is truly
    * selective measured the decay: recall@10 0.87 at sf1 (K = 10, 40%
    * probed) → 0.38 at sf10 (K = 100, 4% probed) UNIFORMLY across the
    * sampled rungs. The standard fix is the √K rule — probe ⌈√K⌉ lists,
    * so probed work per query grows as √n · [[IvfListTarget]] while the
    * probed FRACTION decays only as 1/√K instead of 1/K. Measured at the
    * decade the decay was found (`RecallProbe` at sf10, bench/SCALING.json
    * `recall10_sf10`): ivf_sampled 0.898, matryoshka 0.897, imi 0.880,
    * ivfadc 0.8545 — decay reversed; `LadderRecallSpec` pins a 0.6 floor
    * at the smallest geometry where the ladder engages (K = 20). Floored
    * at [[NProbe]], which keeps every geometry with K ≤ 16 — all
    * DuckDB-gated scales (sf0.001–sf1 have K = 10) — bit-identical to the
    * fixed fan-out, so the ladder engages exactly where the decay does.
    * sqrt/ceil are IEEE-correctly-rounded in both engines, so the
    * oracle's `GREATEST(NProbe, CEIL(SQRT(k)))` replays the same
    * integer. */
  def nprobeFor(k: Long): Long =
    math.max(NProbe.toLong, math.ceil(math.sqrt(k.toDouble)).toLong)

  /** Probe-batch stride: 1-in-100 at every corpus size the oracle checks
    * (bit-identical through sf1, where n/200 ≤ 100), then grows with n so
    * the probe BATCH pins at ~200 queries — the serving shape: a fixed
    * query batch against a growing corpus, rather than a query batch that
    * grows because the corpus did. This is what keeps the brute-force
    * baseline, the PQ full-code ADC scan and both hybrid legs LINEAR in
    * corpus size (as probes ∝ n they are n²/100 by construction — the
    * first full-set sf10 run measured 294/418/283 s on
    * cosine/pq/hybrid). */
  def probeStride(n: Long): Long = math.max(100L, n / 200L)

  /** Above this corpus size `ann_ivf_topk` leaves the 10-list label path
    * (fixed K ⇒ quadratic total, measured sf1 2.98 s → sf10 ~200 s) for
    * [[ivfSampledTopk]]. 50k keeps every oracle scale and the recorded
    * sf1 decade on the label path bit-for-bit.
    *
    * Routing-cost ladder (same convention as `LinkageQueries.BandWidth`):
    * the flat sampled rung's ASSIGNMENT pass cost n × K = n²/
    * [[IvfListTarget]] codegen'd cosines — ~20M at sf10 (seconds), ~2B at
    * ~10⁷ vectors. Since round 10 the WHOLE family assigns through the
    * two-level [[twoLevelRouting]] pass (√K coarse cells over the
    * codebook, coarse-then-fine argmax — n × (√K + K/√K)), so the
    * 10⁷-vector decade holds without a further rung change. */
  val IvfLabelPathMax = 50000L

  /** Product quantization geometry: [[Dim]] splits into [[PqM]] subspaces
    * of Dim/PqM dims, each encoded to one of [[PqK]] codewords — 64 floats
    * (256 bytes) compress to 8 one-byte codes per vector (32×; packing
    * the K=16 codes at 4 bits halves that again to 64×). */
  val PqM = 8
  val PqK = 16

  /** ADC shortlist width fed to the exact rerank. */
  val PqShortlist = 50

  /** PQ resolution ladder (round-10 verdict finding: a FIXED 8×16
    * codebook is a constant-resolution quantizer over a growing corpus —
    * IVFADC recall@10 measured 0.38 at 2k vectors but 0.268 at 20k, and
    * at 10⁹ the ADC shortlist would be near-random). Two levers step
    * together at [[PqKStepAt]] vectors, both COUNT-derived so the oracle
    * replays the same geometry (the step sits at 1000 vectors: the
    * 500-vector oracle-gate fixtures keep the 16-codeword book the gate
    * has always hashed, every measured scale from sf0.1 up gets the
    * high-resolution book, and sf0.1/sf1 parity above the step is
    * hash-verified directly — see the round-11 notes):
    *   - codewords per subspace 16 → [[PqKBig]] (64): ADC cell volume
    *     shrinks 4× per subspace; codebook build/encode stays n × Dim × k
    *     rows — 82M at 20k vectors, 840M at 200k, linear in n per tier;
    *   - exact-rerank shortlist 50 → [[PqShortlistBig]] (200): the rerank
    *     is probes × shortlist × Dim — microscopic — so a deeper shortlist
    *     buys recall at almost no cost once candidates are IVF-bounded.
    * k = 256 (the classical PQ operating point) is deliberately NOT a
    * tier here: at the fixture dims (64 floats, 8-dim subspaces) 64
    * codewords already drive measured sf1 recall past the 0.5 gate, and
    * the encode join would pay 4× for resolution the quantized grid
    * cannot express; a billion-vector deployment at production dims
    * (768+) would add that tier behind the same COUNT-derived switch. */
  val PqKStepAt = 1000L
  val PqKBig = 64
  val PqShortlistBig = 200

  /** Codewords per subspace at corpus size n — the [[PqKStepAt]] ladder. */
  def pqCodewords(n: Long): Int = if (n < PqKStepAt) PqK else PqKBig

  /** Lloyd-refinement training-sample budget: ~[[PqTrainPerCode]] vectors
    * per codeword (the classical PQ training regime — the codebook needs
    * a few dozen points per cell, not the corpus). The training stride is
    * COUNT-derived (max(1, n / (budget·k))), so gate-scale corpora train
    * on EVERY vector (stride 1 — bit-identical to the untruncated build)
    * while the 200k-vector decade trains on ~3k vectors, keeping the
    * n × Dim × k training join constant-sized as n grows. The ENCODE pass
    * (every vector → nearest codeword per subspace) still sees the full
    * corpus — that cost is the rung's linear-in-n floor. */
  val PqTrainPerCode = 50L

  /** ADC shortlist width at corpus size n — steps with [[pqCodewords]]. */
  def pqShortlistFor(n: Long): Int =
    if (n < PqKStepAt) PqShortlist else PqShortlistBig

  /** K-means geometry: [[KmK]] clusters, [[KmIters]] Lloyd iterations. */
  val KmK = 8
  val KmIters = 3

  /** Matryoshka prefix width: the first MatPrefDim of [[Dim]] dims score
    * the shortlist stage (MRL-trained embeddings front-load information, so
    * the truncated prefix is itself a usable embedding — Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022). 32 of 64 dims =
    * 2× fewer multiplies on the corpus-sized stage; the synthetic fixture
    * embeddings spread information UNIFORMLY across dims (nothing trained
    * them to front-load), so the fixture is the adversarial case for a
    * prefix ranker — a 16-dim prefix measured recall 0.40 there, 32 dims
    * clears the pin. MRL-trained production embeddings would tolerate the
    * shorter prefix. */
  val MatPrefDim = 32

  /** Prefix-score shortlist width fed to the exact full-dim rerank. */
  val MatShortlist = 50

  /** Hamming shortlist width for the binary-quantization rung — same 5×k
    * rescore budget as [[MatShortlist]]. Measured recall@10 0.72 at
    * sf0.01 (pinned with headroom by `Round13OpsSpec`): the price of
    * 32× compression on embeddings whose information is spread uniformly
    * across dims — the same adversarial-fixture caveat as [[MatPrefDim]]. */
  val BqShortlist = 50

  /** Coarse cells probed per query in the IMI two-level router. */
  val ImiCoarseProbe = 2

  /** Coarse cells considered per VECTOR during two-level assignment: the
    * argmax fine centroid can sit just across a coarse-cell boundary, and
    * a top-1 cell assignment loses it (measured: recall@10 0.695 vs the
    * flat router's 0.795 at the sf0.1 fixture). Scoring the fine lists of
    * the top-[[ImiAssignProbe]] cells recovers the boundary cases at
    * n × (C + [[ImiAssignProbe]]·K/C) cosines — still √K-shaped, vs the
    * flat router's n × K. */
  val ImiAssignProbe = 2

  /** Below this many fine lists the two-level assignment's coarse layer
    * is pure stage overhead (√K ≈ 4–6 cells over a 10–50-row codebook)
    * and [[twoLevelRouting]] short-circuits to the flat one-pass argmax —
    * the small-corpus end of the auto-selection ladder. 32 lists ≈ the
    * 64k-vector corpus where √K routing starts paying for its stages;
    * every measured decade with a real K (sf1's 100, sf10's 1000, the
    * 2M-vector sf100e's 1000+) stays on the two-level path. */
  val FlatAssignMax = 32L

  /** Semantic-drift boundary for [[queries]]' `diff_semantic_drift`: an
    * UPDATED embedding whose before→after quantized cosine falls below
    * this is a SEMANTIC edit (re-embed / re-index it); at or above is
    * COSMETIC (renormalization, an epsilon touch — skip the rebuild).
    * Far from both planted edit classes (rotation ≈ uncorrelated,
    * rescale ≈ 1.0), so classification is robust to quantization. */
  val DriftTau = 0.99

  /** Rotation width of the planted semantic edit (dims shift left 7). */
  val DriftRot = 7

  /** Insert band for the drift fixture's new arrivals — above the dedup
    * delta bands so scaled fixtures' real vec_ids can never collide
    * (same discipline as the mutation bands; ScaleUp asserts headroom). */
  val DriftInsertBand = 10000000000L

  /** SemDeDup similarity threshold: a same-cluster pair at or above this
    * cosine marks the higher id a semantic duplicate ([[semanticDupes]]).
    * Looser than the 0.95 the LSH near-dup query uses — SemDeDup's point
    * is catching paraphrase-grade duplicates exact near-dup passes miss. */
  val SemTau = 0.9

  /** Synthetic near-dup corpus for the LSH query (embeddings has no dups).
    * The copy band sits at [[DedupQueries.DeltaBase]] so scaled fixtures'
    * real vec_ids can never collide with it (same discipline as the
    * document corpus; [[graft.ScaleUp]] asserts the headroom). */
  val vecCorpusSql: String =
    s"""SELECT vec_id, embedding FROM embeddings
       |UNION ALL
       |SELECT vec_id + ${DedupQueries.DeltaBase} AS vec_id, embedding
       |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin

  /** ±1 plane matrix derived from md5 parity — computed in Scala with the
    * same md5-derived hash as [[Hashing.hash64Sql]] so the oracle's planes
    * are identical. `nPlanes` > [[NumPlanes]] extends the SAME sequence
    * (plane p is identical at every width), so the banded rung's first
    * band reuses exactly the single-band signature planes. */
  def planeRowsN(nPlanes: Int): Seq[(Int, Int, Int)] =
    for (p <- 0 until nPlanes; d <- 0 until Dim) yield {
      val h = Hashing.hash60(s"plane:$p:$d".getBytes("UTF-8"))
      (p, d, if (h % 2 == 1) 1 else -1)
    }

  /** Bands for the scale rung of `ann_lsh_near_dup`: 6 independent 16-bit
    * signature bands (96 planes). The single 16-bit band measured 0.4525
    * pair recall at the sf10 decade (bench/SCALING.json note_r12) — per
    * band the collision probability of a true near-dup pair is p^16 with
    * p = 1 - θ/π per bit, so b independent bands lift recall to
    * 1-(1-p^16)^b: at the measured p_eff ≈ 0.95, six bands ≈ 0.97 vs
    * 0.45. Candidate fan-out stays banded-bucketed (equi-join on
    * (band, sig), never all-pairs), growing linearly in bands. */
  val LshBands = 6

  /** Sign-LSH near-dup pairs at an explicit banding geometry: quantized
    * components × broadcast plane matrix → per-(vector, band) 16-bit sign
    * signature → candidate pairs via equi-join on (band, signature) →
    * exact quantized-cosine verify at 0.95. `bands = 1` is bit-identical
    * to the historical single-band query (the oracle-checked geometry);
    * the registry auto-selects [[LshBands]] past [[IvfLabelPathMax]] —
    * same ladder pattern as the IVF family. */
  def lshNearDupPairs(corpus: DataFrame, bands: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val planes = planeRowsN(bands * NumPlanes).toDF("p", "d", "s")
    val planeSums = components(corpus, Seq("vec_id"), "qv").join(broadcast(planes), "d")
      .groupBy(col("vec_id"), col("p"))
      .agg(sum(col("s") * col("qv")).as("psum"))
    val sigs = planeSums
      .withColumn("band", (col("p") / NumPlanes).cast("int"))
      .groupBy(col("vec_id"), col("band"))
      .agg(sum(when(col("psum") > 0,
        expr(s"shiftleft(cast(1 as bigint), cast(p % $NumPlanes as int))"))
        .otherwise(0L)).as("sig"))
    val a = sigs.select(col("vec_id").as("vec_a"), col("band"), col("sig"))
    val b = sigs.select(col("vec_id").as("vec_b"), col("band"), col("sig"))
    val cand = a.join(b, Seq("band", "sig")).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    val n = normed(corpus)
    cand
      .join(n.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("nsq").as("nsq_a")), "vec_a")
      .join(n.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("nsq").as("nsq_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        QuantizedVec.qcosine(col("emb_a"), col("emb_b"),
          col("nsq_a"), col("nsq_b")).as("cos"))
      .filter(col("cos") >= 0.95)
  }

  // ---- shared stages ---------------------------------------------------

  /** (vec_id, embedding, nsq): the corpus with its quantized squared norm. */
  private def normed(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      QuantizedVec.qnormsq(col("embedding")).as("nsq"))

  /** (probe_id, p_emb, p_nsq): a [[normed]] frame as the probe side. */
  private def asProbes(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
      col("nsq").as("p_nsq"))

  /** Quantized per-dimension components: the `keys` columns, `d`, and the
    * quantized component named `q`. */
  private def components(df: DataFrame, keys: Seq[String], q: String): DataFrame =
    df.select(keys.map(col) :+ posexplode(col("embedding")).as(Seq("d", "v")): _*)
      .select(keys.map(col) ++ Seq(col("d"), QuantizedVec.quantized(col("v")).as(q)): _*)

  /** Floor of a BIGINT column's group mean (exact while sums stay < 2^53,
    * so the IEEE double division is correctly rounded in both engines). */
  private def floorMean(x: Column): Column =
    floor(sum(x).cast("double") / count(lit(1))).cast("long")

  /** The probe batch: every [[probeStride]]-th vector of an n-vector corpus. */
  private def probeBatch(df: DataFrame, n: Long): DataFrame =
    df.filter(col("vec_id") % probeStride(n) === 0)

  /** The first k rows of every `key` group under `order` (row_number, so
    * the ordering's last term breaks ties). `rank` names the row number:
    * an output column cast to BIGINT when `keepRank`, otherwise a scratch
    * column dropped after the filter. */
  private def topPer(df: DataFrame, key: String, k: Long, rank: String,
      keepRank: Boolean)(order: Column*): DataFrame = {
    val rn = row_number().over(Window.partitionBy(col(key)).orderBy(order: _*))
    val top = df.withColumn(rank, if (keepRank) rn.cast("long") else rn)
      .filter(col(rank) <= k)
    if (keepRank) top else top.drop(rank)
  }

  /** (key, id) with the `id` of the best `score` per key, ties to the
    * lowest id: a map-side-partial max(struct) aggregate, never a window
    * over the scored frame. */
  private def argmax(scored: DataFrame, key: String, score: String, id: String): DataFrame =
    scored.groupBy(col(key))
      .agg(max(struct(col(score), (-col(id)).as(s"neg$id"))).as("__m"))
      .select(col(key), (-col(s"__m.neg$id")).as(id))

  /** Router tail: each probe's lists × the lists' members (neighbor_id,
    * `list`) → (probe_id, neighbor_id) candidates, the probe itself excluded. */
  private def listCandidates(pLists: DataFrame, members: DataFrame, list: String): DataFrame =
    pLists.join(members, list)
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"))

  /** The flat router: the broadcast probe batch meets every corpus row (no
    * shuffle before the scorer) and the corpus-sized stage emits only
    * (probe_id, neighbor_id, extra..., score). */
  private def flatScan(probes: DataFrame, corpus: DataFrame, score: Column,
      extra: Column*): DataFrame =
    broadcast(probes).join(corpus, col("vec_id") =!= col("probe_id"))
      .select(Seq(col("probe_id"), col("vec_id").as("neighbor_id")) ++ extra :+ score: _*)

  /** Scores routed (probe_id, neighbor_id) candidates: each side's
    * features join on its id, `score` reads both. */
  private def scorePairs(cand: DataFrame, probes: DataFrame, neighbors: DataFrame,
      score: Column): DataFrame =
    cand.join(probes, "probe_id").join(neighbors, "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"), score)

  /** Rung dispatch: the indexed branch past [[IvfLabelPathMax]] vectors,
    * the plain one at or below it. */
  private def bySize[T](n: Long)(indexed: => T, plain: => T): T =
    if (n > IvfLabelPathMax) indexed else plain

  // ---- exact reranks ---------------------------------------------------

  /** Exact cosine top-k over the flat router: the probe batch of
    * `probesFrom` scored against every `corpus` vector. */
  private def flatCosineTopk(probesFrom: DataFrame, corpus: DataFrame, n: Long,
      k: Int, rank: String, extra: Column*): DataFrame =
    topPer(flatScan(asProbes(probeBatch(probesFrom, n)), corpus,
        QuantizedVec.qcosine(col("p_emb"), col("embedding"),
          col("p_nsq"), col("nsq")).as("cos"), extra: _*),
      "probe_id", k, rank, keepRank = true)(col("cos").desc, col("neighbor_id"))

  /** Exact codegen rerank of (probe_id, neighbor_id) candidates + top-k. */
  private def topkRerank(cand: DataFrame, emb: DataFrame, k: Int = TopK): DataFrame =
    topPer(scorePairs(cand, asProbes(emb),
        emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
          col("nsq").as("n_nsq")),
        QuantizedVec.qcosine(col("p_emb"), col("n_emb"),
          col("p_nsq"), col("n_nsq")).as("cos")),
      "probe_id", k, "rank", keepRank = true)(col("cos").desc, col("neighbor_id"))

  // ---- label IVF router (one definition; the inline query, the offline
  // build, and the persisted-index query path all consume these, so the
  // centroid arithmetic and tiebreaks cannot drift apart) ---------------

  /** Per-label quantized-mean centroid table and its norms. */
  private def centroids(qn: DataFrame): (DataFrame, DataFrame) = {
    val cq = qn.groupBy(col("label"), col("d")).agg(floorMean(col("qv")).as("qc"))
    val cnorms = cq.groupBy(col("label")).agg(sum(col("qc") * col("qc")).as("cnsq"))
    (cq, cnorms)
  }

  private def vecNorms(comp: DataFrame): DataFrame =
    comp.groupBy(col("vec_id")).agg(sum(col("qv") * col("qv")).as("nsq"))

  /** Vector-vs-centroid cosine scores: components × the BROADCAST centroid
    * table (tiny by construction) — one equi-join on d. */
  private def centroidScores(comp: DataFrame, norms: DataFrame,
      cq: DataFrame, cnorms: DataFrame): DataFrame =
    comp.join(broadcast(cq), "d")
      .groupBy(col("vec_id"), col("label")).agg(sum(col("qv") * col("qc")).as("dot"))
      .join(norms, "vec_id").join(broadcast(cnorms), "label")
      .select(col("vec_id"), col("label"),
        (col("dot").cast("double") /
          (sqrt(col("nsq").cast("double")) * sqrt(col("cnsq").cast("double")))).as("ccos"))

  /** Top-k clusters per vector by centroid cosine (label-asc tiebreak). */
  private def topClusters(ascore: DataFrame, k: Int): DataFrame =
    topPer(ascore, "vec_id", k, "rn", keepRank = false)(col("ccos").desc, col("label"))
      .select(col("vec_id"), col("label"))

  /** Label-IVF rung tail: route each probe (`probeScores`, its centroid
    * cosines) to its NProbe nearest labels, pull ONLY those labels'
    * members through `assigned` (vec_id, label), exact-rerank. */
  private def labelRouted(probeScores: DataFrame, assigned: DataFrame,
      raw: DataFrame): DataFrame = {
    val probeClusters = topClusters(probeScores, NProbe)
      .select(col("vec_id").as("probe_id"), col("label"))
    topkRerank(listCandidates(probeClusters,
      assigned.select(col("vec_id").as("neighbor_id"), col("label")), "label"), normed(raw))
  }

  // ---- sampled-IVF and IMI routers ----------------------------------

  /** The two-level (inverted-multi-index) codebook build and vector
    * assignment SHARED BY THE WHOLE SAMPLED-IVF FAMILY — round 10's
    * structural fix: the flat assignment scored every vector against all
    * K fine centroids (n × K cosines with K = n / [[IvfListTarget]] ∝ n —
    * quadratic, ~2 B cosines at the 10⁷-vector decade), and only
    * [[imiTopk]] routed coarse-then-fine. Now EVERY rung assigns through
    * this pass: the K-entry fine codebook (stride sample of the corpus,
    * unchanged from the flat rung) is itself clustered into C ≈ √K coarse
    * cells, and each vector scores C coarse cosines then only the ~K/C
    * fine centroids inside its argmax cell — n × (√K + K/√K) total, the
    * inverted-multi-index shape (Babenko & Lempitsky, "The Inverted
    * Multi-Index", CVPR 2012).
    *
    * ASSIGNMENT-COST LADDER (decision record, round 11). With
    * K = n/[[IvfListTarget]] the total assignment bill is
    * n × (√K + [[ImiAssignProbe]]·K/√K) ≈ 3·n·√K ∝ n^1.5:
    *
    *   - 2×10⁶ vectors (K = 1000, the sf100e fixture): MEASURED 18.9 s
    *     on local[32] vs the removed flat router's 638.1 s (34×);
    *   - 10⁸ vectors (K = 50 000): ~6.7×10¹³ cosine-component mults —
    *     minutes on a ~1000-core cluster, comfortably inside a nightly
    *     index build next to the corpus scan that feeds it;
    *   - 10⁹ vectors (K = 500 000): ~2×10¹² cosines ≈ 10¹⁴ mults — the
    *     n^1.5 term starts to dominate the linear scan.
    *
    * ACCEPTED through ~10⁸ as-is. Past that the standard fix is K ∝ √n
    * list geometry (constant total assignment work per decade, √n-sized
    * lists), which CHANGES the recall/latency trade — candidates per
    * probe become NProbe·√n instead of NProbe·[[IvfListTarget]] — so it
    * belongs behind a corpus-size rung with its own recall pins, and no
    * in-container fixture can exercise it (sf100e's 2×10⁶ is two decades
    * short of where it pays). Adding a THIRD coarse level (n^1.33) is the
    * alternative if list-size invariance matters more. Deliberately not
    * speculatively implemented: an untestable rung is worse than a
    * recorded decision.
    *
    * Returns (fineCells, v2c, assigned):
    *   - `fineCells` (c, f, f_emb, f_nsq): the K-row fine-codebook table
    *     keyed by coarse cell, eagerly pinned — consumers equi-join it
    *     broadcast instead of re-embedding the K × C scoring subtree;
    *   - `v2c` (vec_id, c, ccos): vector → coarse-cell cosines (n × C
    *     rows; cached when `shareV2c` — IMI probe routing re-reads it,
    *     the family's flat probe routing does not);
    *   - `assigned` (neighbor_id, f): each vector's fine list, both
    *     argmaxes as map-side-partial aggregates with (cos desc, id asc)
    *     tiebreaks — never a window over the corpus-sized score frame. */
  private def twoLevelRouting(emb: DataFrame, n: Long,
      shareV2c: Boolean, allowFlat: Boolean = true): (DataFrame, DataFrame,
      DataFrame) = {
    val k = fineListCount(n)
    val s = math.max(1L, n / k)
    val fine = emb.filter(col("vec_id") % s === 0)
      .select(col("vec_id").as("f"), col("embedding").as("f_emb"),
        col("nsq").as("f_nsq"))
    // each vector's fine list: the argmax over its (vector, fine) pairs
    def assignFine(pairs: DataFrame): DataFrame =
      argmax(pairs.select(col("vec_id"), col("f"),
          QuantizedVec.qcosine(col("embedding"), col("f_emb"),
            col("nsq"), col("f_nsq")).as("fcos")), "vec_id", "fcos", "f")
        .withColumnRenamed("vec_id", "neighbor_id")
    // CHEAP-GEOMETRY SHORT-CIRCUIT (auto-selected like [[IvfLabelPathMax]]):
    // below [[FlatAssignMax]] lists the coarse layer is pure overhead —
    // C = 4–6 cells over a 10–50-row codebook saves a handful of cosines
    // but costs four extra stages (coarse build, f2c, the n × C scoring
    // pass, its vec_id-shuffled window). Route flat: one broadcast
    // cross-score of all K fine centroids, same (cos desc, id asc)
    // argmax — bit-identical to the pre-two-level router at this
    // geometry, and the oracle CTE chain gates on the same k threshold.
    // imiTopk opts out (allowFlat = false): two-level probe routing is
    // that rung's defining shape, so it stays coarse-then-fine at every
    // scale — which also keeps the two-level SQL chain oracle-verified
    // at the sf0.01 gate, where every flat-allowed rung takes this branch.
    if (allowFlat && k < FlatAssignMax) {
      val fineCells = CacheScope.pinned(fine.select(lit(0L).as("c"),
        col("f"), col("f_emb"), col("f_nsq")))
      // degenerate single-cell v2c keeps the return contract; only the
      // IMI rung consumes v2c and it never takes this branch
      val v2c = emb.select(col("vec_id"), lit(0L).as("c"), lit(1.0).as("ccos"))
      return (fineCells, v2c, assignFine(emb.crossJoin(broadcast(fineCells))))
    }
    val c = math.max(2L, math.ceil(math.sqrt(k.toDouble)).toLong)
    val cf = math.max(1L, k / c)
    val coarse = emb.filter(col("vec_id") % (s * cf) === 0)
      .select(col("vec_id").as("c"), col("embedding").as("c_emb"),
        col("nsq").as("c_nsq"))
    // fine centroid → coarse cell: K × C cosines, both sides broadcast-tiny
    val f2c = argmax(fine.crossJoin(broadcast(coarse))
      .select(col("f"), col("c"),
        QuantizedVec.qcosine(col("f_emb"), col("c_emb"),
          col("f_nsq"), col("c_nsq")).as("ccos")), "f", "ccos", "c")
    // the broadcast fine-cell table downstream stages equi-join on c —
    // K rows, eager-pinned so consumers read a leaf instead of
    // re-embedding the K × C scoring subtree in their plans
    val fineCells = CacheScope.pinned(f2c.join(fine, "f")
      .select(col("c"), col("f"), col("f_emb"), col("f_nsq")))
    // vector → coarse cell: n × C cosines
    val v2cRaw = emb.crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("c"),
        QuantizedVec.qcosine(col("embedding"), col("c_emb"),
          col("nsq"), col("c_nsq")).as("ccos"))
    val v2c = if (shareV2c) v2cRaw.transform(CacheScope.cached) else v2cRaw
    // top ImiAssignProbe coarse cells per vector (WindowGroupLimit keeps
    // the per-partition top-A before the vec_id shuffle)
    val vCells = topPer(v2c, "vec_id", ImiAssignProbe, "rn", keepRank = false)(
      col("ccos").desc, col("c")).select(col("vec_id"), col("c"))
    // vector → fine list WITHIN its top-A coarse cells: n × ~A·K/C cosines
    // via the c equi-join against the broadcast fine-cell table
    (fineCells, v2c, assignFine(emb.join(vCells, "vec_id").join(broadcast(fineCells), "c")))
  }

  /** The sampled-IVF routing stage shared by [[ivfSampledTopk]],
    * [[ivfAdcTopk]], [[matryoshkaIvfTopk]] and the indexed hybrid leg:
    * every vector assigns to its fine list through the two-level
    * [[twoLevelRouting]] pass (n × (√K + K/√K) cosines — the round-10
    * fix for the flat rung's quadratic n × K assignment), then the
    * ~n/pstride probe BATCH scores ALL K fine centroids flat (pstride
    * pins the batch at ~200 queries, so this is ~200 × K cosines —
    * negligible next to assignment at every decade, and it keeps the
    * probe's NProbe lists exact rather than coarse-cell-restricted:
    * the recall-preserving half of the flat rung at none of its cost).
    * Candidates = NProbe × [[IvfListTarget]] rows per probe, constant in
    * n. `emb` must carry (vec_id, embedding, nsq) as produced by
    * [[normed]], PINNED by the caller (six stages consume it). */
  private def sampledCandidates(emb: DataFrame, n: Long): DataFrame = {
    val (fineCells, _, assigned) = twoLevelRouting(emb, n, shareV2c = false)
    listCandidates(probeLists(
      asProbes(probeBatch(emb, n)).crossJoin(broadcast(fineCells)), n), assigned, "f")
  }

  /** Each probe's [[nprobeFor]] nearest fine lists (probe_id, f) from its
    * (probe, fine-centroid) pairs, (cos desc, f asc). */
  private def probeLists(pairs: DataFrame, n: Long): DataFrame =
    topPer(pairs.select(col("probe_id"), col("f"),
        QuantizedVec.qcosine(col("p_emb"), col("f_emb"),
          col("p_nsq"), col("f_nsq")).as("fcos")),
      "probe_id", nprobeFor(fineListCount(n)), "rn", keepRank = false)(
      col("fcos").desc, col("f")).select(col("probe_id"), col("f"))

  /** IMI router: assignment is the family-shared two-level pass; what is
    * distinctive is the PROBE side — queries also route coarse-then-fine
    * (top [[ImiCoarseProbe]] coarse cells, then the fine lists inside
    * them) instead of scoring all K fine centroids flat, the full
    * inverted-multi-index query shape (Babenko & Lempitsky, "The Inverted
    * Multi-Index", CVPR 2012) for when even the probe batch's K-flat scan
    * matters (huge K or per-query serving). `emb` is PINNED by the caller. */
  private def imiCandidates(emb: DataFrame, n: Long): DataFrame = {
    // v2c is cached because probe routing below re-reads it
    val (fineCells, v2c, assigned) =
      twoLevelRouting(emb, n, shareV2c = true, allowFlat = false)
    val pCells = topPer(probeBatch(v2c, n), "vec_id", ImiCoarseProbe, "rn",
        keepRank = false)(col("ccos").desc, col("c"))
      .select(col("vec_id").as("probe_id"), col("c"))
    listCandidates(probeLists(
      pCells.join(broadcast(fineCells), "c").join(asProbes(emb), "probe_id"), n),
      assigned, "f")
  }

  // ---- exact-rerank rungs: flat, sampled IVF, IMI ----------------------

  /** Exact brute-force cosine top-k over the stride probe batch — the
    * deliberately-exact baseline `ann_cosine_topk` serves, factored out so
    * `ann_recall_report` can score the routed sampled-IVF path against it
    * in one plan. */
  def exactCosineTopk(raw: DataFrame, n: Long): DataFrame = {
    val emb = normed(raw)
    flatCosineTopk(emb, emb, n, TopK, "rank")
  }

  /** Sampled-codebook IVF for corpora past the label axis ([[IvfLabelPathMax]]):
    * the codebook is a deterministic 1-in-(n/K) sample of the corpus itself
    * (standard sample-based IVF training; each sampled vector sits near its
    * true cluster's mass), K = n / [[IvfListTarget]] lists. Assignment
    * routes through the shared two-level [[twoLevelRouting]] pass
    * (n × (√K + K/√K) cosines); probe routing scores the ~200-query batch
    * flat against the K-row broadcast fine-cell table; then the same
    * candidate equi-join and exact rerank as the label path, with the same
    * (cos desc, id asc) tiebreaks. Candidates/probe = NProbe ×
    * IvfListTarget, CONSTANT in n: the query total is linear where the
    * fixed-K path was quadratic — and the assignment pass now survives the
    * 10⁷-vector decade the flat n × K router could not. */
  def ivfSampledTopk(raw: DataFrame, n: Long): DataFrame = {
    // routing (fine/coarse samples, v2c, assignment), probe scoring and
    // the exact rerank all consume it: eager pin, per the shared-frame
    // discipline
    val emb = CacheScope.pinned(normed(raw))
    topkRerank(sampledCandidates(emb, n), emb)
  }

  /** IMI-style fully-two-level rung: [[imiCandidates]] → exact rerank.
    * Candidates and the exact rerank tail are the family's shared ones;
    * every tiebreak is (cos desc, id asc). Exercised directly at oracle
    * scales as `ann_imi_topk`; recall pinned by `IvfRecallSpec`. */
  def imiTopk(raw: DataFrame, n: Long): DataFrame = {
    // routing (three scoring stages) + rerank all reuse the normed corpus
    val emb = CacheScope.pinned(normed(raw))
    topkRerank(imiCandidates(emb, n), emb)
  }

  // ---- codebook training (PQ coding and k-means share both steps) -------

  /** Hash-first seeding: the k vectors with the smallest hashHex(vec_id)
    * (vec_id tiebreak; TakeOrdered, no global sort) numbered 0..k-1, as
    * (__sv, c). */
  private def seedCodes(raw: DataFrame, k: Int): DataFrame = {
    val wC = Window.orderBy(col("__h"), col("vec_id")) // k rows only
    raw.select(col("vec_id"))
      .withColumn("__h", Hashing.hashHex(col("vec_id").cast("string")))
      .orderBy(col("__h"), col("vec_id")).limit(k)
      .withColumn("c", (row_number().over(wC) - 1).cast("long"))
      .select(col("vec_id").as("__sv"), col("c"))
  }

  /** One Lloyd update of a (c, d, qc) codebook: each codeword becomes the
    * floor-mean of its `members` (`code`, d, qv); a codeword with no
    * members keeps its previous value. */
  private def lloydUpdate(cb: DataFrame, members: DataFrame, code: String): DataFrame = {
    val means = members.groupBy(col(code), col("d")).agg(floorMean(col("qv")).as("qm"))
    cb.join(means.select(col(code).as("c"), col("d"), col("qm")), Seq("c", "d"), "left_outer")
      .select(col("c"), col("d"), coalesce(col("qm"), col("qc")).as("qc"))
  }

  // ---- shortlist rungs: PQ ADC, Matryoshka prefix, sign-bit Hamming ---

  /** Collects a (c, d, qc) codebook frame — pqk × Dim rows, control-plane
    * sized (≤16k longs even at the k=256 ladder rung) — into the nested
    * array the codegen'd [[PqCodec]] expressions hold as a reference
    * object: `arr(m)(c)(j)` = codeword c's j-th component in subspace m.
    * Assumes a dense codebook (every (c, d) present), which hash-first
    * seeding over the fixed-[[Dim]] corpus guarantees. */
  private def collectCodebook(cb: DataFrame, pqk: Int): Array[Array[Array[Long]]] = {
    val sub = Dim / PqM
    val arr = Array.ofDim[Long](PqM, pqk, sub)
    val rows = cb.select(col("c"), col("d"), col("qc")).collect()
    // Ofdim zero-fills: a short codebook (corpus smaller than pqk seeds)
    // would silently leave phantom all-zero codewords that the relational
    // chain and the DuckDB oracle never materialize — fail loudly instead.
    require(rows.length == pqk * Dim,
      s"codebook expected $pqk x $Dim dense entries, got ${rows.length} — " +
        "corpus has fewer vectors than the pqk seed count")
    rows.foreach { r =>
      val d = r.getInt(1)
      arr(d / sub)(r.getLong(0).toInt)(d % sub) = r.getLong(2)
    }
    arr
  }

  /** PQ coding stages shared by the plain full-code ADC scan and the
    * IVFADC rung ([[ivfAdcTopk]]): the PROBE-batch ADC lookup tables and
    * the corpus encoding. One definition so the two paths' codes and ADC
    * arithmetic cannot drift.
    *
    * The encode pass — the one unavoidable linear-in-n stage — runs as the
    * codegen'd per-row argmin [[PqCodec.PqEncode]] against the collected
    * codebook instead of the relational components ⋈ codebook ⇒ groupBy
    * argmin chain: that formulation shuffles n × Dim × pqk rows (8.2e9 at
    * the 2M-vector fixture with the 64-codeword rung — measured as the
    * whole family's dominant stage), where the same arithmetic is
    * PqM × pqk × (Dim/PqM) primitive long ops per row inside whole-stage
    * codegen. Bit-equivalence with the relational chain the DuckDB oracle
    * replays: identical [[QuantizedVec.quantize]] quantization, exact long
    * distances, argmin ties to the LOWEST codeword id exactly like
    * `min(struct(dist2, c))`. The full per-(vector, m, c) distance frame
    * no longer exists — both consumers only ever used it filtered to the
    * probe batch ([[PqCodec.PqDistTable]] now computes those ~200 rows'
    * tables directly). */
  private def pqStages(raw: DataFrame, n: Long): (DataFrame, DataFrame) = {
    val pqk = pqCodewords(n)
    // deterministic codebook: hash-first pqk vectors seed the codewords.
    // Components are exploded ONLY for bounded subsets (the pqk seed
    // vectors; the Lloyd training sample) — the corpus-wide n × Dim
    // component frame the round-10 formulation pinned no longer exists.
    val cb0 = components( // pqk × Dim rows
      raw.join(broadcast(seedCodes(raw, pqk)), col("vec_id") === col("__sv")), Seq("c"), "qc")
    val cb0Arr = collectCodebook(cb0, pqk)
    // ONE Lloyd refinement over the TRAINING SAMPLE (stride 1 = whole
    // corpus below the [[PqTrainPerCode]] budget): assign each sampled
    // subvector to its nearest seed codeword, recompute codewords as
    // floor-mean centroids (empty codewords fall back to their seed)
    val tstride = math.max(1L, n / (PqTrainPerCode * pqk))
    val train =
      if (tstride == 1L) raw else raw.filter(col("vec_id") % tstride === 0)
    val assign0 = train
      .select(col("vec_id"),
        posexplode(PqCodec.pqEncode(col("embedding"), cb0Arr)).as(Seq("m", "code")))
      .select(col("vec_id"), col("m").cast("long").as("m"), col("code"))
    val cb = lloydUpdate(cb0, assign0.join(components(train, Seq("vec_id"), "qv"), "vec_id")
      .filter(expr(s"d div ${Dim / PqM}") === col("m")), "code")
    val cbArr = collectCodebook(cb, pqk)
    // the linear-in-n pass: narrow per-row argmin encode, no row explosion
    val enc = raw
      .select(col("vec_id").as("neighbor_id"),
        posexplode(PqCodec.pqEncode(col("embedding"), cbArr)).as(Seq("em", "code")))
      .select(col("neighbor_id"), col("em").cast("long").as("em"), col("code"))
    // probe-batch ADC lookup tables: ~200 rows in, PqM × pqk entries each
    val dt = probeBatch(raw, n)
      .select(col("vec_id").as("probe_id"),
        posexplode(PqCodec.pqDistTable(col("embedding"), cbArr)).as(Seq("pos", "dist2")))
      .select(col("probe_id"), expr(s"CAST(pos div $pqk AS BIGINT)").as("em"),
        (col("pos") % pqk).cast("long").as("code"), col("dist2"))
      .transform(CacheScope.cached)
    (dt, enc)
  }

  /** Compressed-domain shortlist → exact rerank: the shared PQ tail. The
    * looked-up (probe, neighbor, dist2) entries sum to ADC distances, ADC
    * culls to [[pqShortlistFor]] candidates per probe, and only those pairs
    * ever touch raw vectors again. The exact quantized L2 comes from the
    * codegen'd dot/norm primitives via Σ(qa−qb)² = |qa|² − 2·qa·qb + |qb|²
    * — exact long arithmetic, bit-identical to the per-dimension component
    * sum for the fixed-[[Dim]] corpus, with NO n × Dim component explosion:
    * the bounded shortlist (probes × width) broadcasts into two narrow
    * passes over the raw embedding arrays. */
  private def pqRerank(adcTerms: DataFrame, raw: DataFrame, n: Long): DataFrame = {
    val adc = adcTerms.groupBy(col("probe_id"), col("neighbor_id"))
      .agg(sum(col("dist2")).as("adc"))
    val shortlist = topPer(adc, "probe_id", pqShortlistFor(n), "srank", keepRank = false)(
      col("adc"), col("neighbor_id")).select(col("probe_id"), col("neighbor_id"))
    val withProbeVec = raw
      .select(col("vec_id").as("probe_id"), col("embedding").as("__ea"))
      .join(broadcast(shortlist), "probe_id")
    val exact = raw
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("__eb"))
      .join(broadcast(withProbeVec), "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"),
        QuantizedVec.ql2(col("__ea"), col("__eb")).as("l2"))
    topPer(exact, "probe_id", TopK, "rank", keepRank = true)(col("l2"), col("neighbor_id"))
  }

  /** Plain PQ (the full-code ADC scan oracle scales run): every
    * (neighbor, m) row meets each probe's broadcast lookup table — the
    * n-sized side never shuffles. */
  private def pqPlainTopk(raw: DataFrame, n: Long): DataFrame = {
    val (dt, enc) = pqStages(raw, n)
    pqRerank(enc.join(broadcast(dt), Seq("em", "code"))
      .filter(col("neighbor_id") =!= col("probe_id")), raw, n)
  }

  /** IVFADC — the composition `ann_pq_topk`'s scaladoc documents as the
    * next rung (FAISS IndexIVFPQ's search shape): probes route through the
    * sampled-IVF lists ([[sampledCandidates]] — NProbe × [[IvfListTarget]]
    * candidates per probe, constant in n), and the ADC table lookup runs
    * ONLY inside the probed lists instead of over every code in the
    * corpus. The coding stages and the shortlist → exact-rerank tail are
    * the exact same [[pqStages]]/[[pqRerank]] the plain path uses, so the
    * two branches differ only in which (probe, neighbor) pairs ADC ever
    * scores. Auto-selected by `ann_pq_topk` above [[IvfLabelPathMax]];
    * exercised directly at oracle scales as `ann_ivfadc_topk`. */
  def ivfAdcTopk(raw: DataFrame, n: Long): DataFrame = {
    val cand = sampledCandidates(CacheScope.pinned(normed(raw)), n)
    val (dt, enc) = pqStages(raw, n)
    pqRerank(cand.join(enc, "neighbor_id")
      .join(broadcast(dt), Seq("probe_id", "em", "code")), raw, n)
  }

  /** (vec_id, embedding, pnsq): the corpus with its [[MatPrefDim]]-dim
    * prefix norm. */
  private def prefixNormed(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      QuantizedVec.qnormsq(slice(col("embedding"), 1, MatPrefDim)).as("pnsq"))

  /** (probe_id, p_pref, p_pnsq): a [[prefixNormed]] frame as the probe
    * side. [[QuantizedVec.QuantizedDot]] scores over the common prefix of
    * its two arrays, so the probe-side slice against the FULL neighbor
    * vector computes the truncated dot with no second corpus copy. */
  private def prefixProbes(pemb: DataFrame): DataFrame =
    pemb.select(col("vec_id").as("probe_id"),
      slice(col("embedding"), 1, MatPrefDim).as("p_pref"), col("pnsq").as("p_pnsq"))

  /** Matryoshka shortlist: the [[MatShortlist]] best candidates per probe
    * by prefix cosine `pcos`. */
  private def prefixShortlist(scored: DataFrame): DataFrame =
    topPer(scored, "probe_id", MatShortlist, "srank", keepRank = false)(
      col("pcos").desc, col("neighbor_id")).select(col("probe_id"), col("neighbor_id"))

  /** Plain (full-scan) Matryoshka path — the exact branch oracle scales
    * run: the prefix cosine scores every (probe, vector) pair via the
    * broadcast-probe join, then the shortlist reranks exact full-dim. */
  private def matryoshkaPlainTopk(raw: DataFrame, n: Long): DataFrame = {
    val pemb = prefixNormed(raw)
    // the corpus-sized stage emits only (probe_id, neighbor_id, pcos):
    // three narrow columns into the shortlist window (WindowGroupLimit
    // keeps 50/probe per map partition BEFORE the shuffle). Carrying the
    // vectors through instead measured 35.6 s at sf10 — a 30×-wider
    // shuffle that made the "cheap" stage dearer than the exact scan.
    val cand = prefixShortlist(flatScan(prefixProbes(probeBatch(pemb, n)), pemb,
      QuantizedVec.qcosine(col("p_pref"), col("embedding"),
        col("p_pnsq"), col("pnsq")).as("pcos")))
    // exact full-dim rerank fetches vectors ONLY for the tiny shortlist
    topkRerank(cand, normed(raw))
  }

  /** Matryoshka-over-IVF — the composition `ann_matryoshka_topk`'s
    * scaladoc promises as the next rung (and the exact shape
    * [[ivfAdcTopk]] demonstrates for PQ): probes route through the
    * sampled-IVF lists ([[sampledCandidates]] — NProbe × [[IvfListTarget]]
    * candidates per probe, constant in n), the [[MatPrefDim]]-dim prefix
    * cosine scores ONLY those candidates (where the plain path scored the
    * whole corpus per probe), and the [[MatShortlist]]-wide survivor set
    * reranks exact full-dim through the shared [[topkRerank]]. Every stage
    * is an equi-join; per-probe work is constant in n, so the query total
    * is linear where the plain prefix scan was quadratic (probes ∝ n).
    * Auto-selected by `ann_matryoshka_topk` above [[IvfLabelPathMax]];
    * exercised directly at oracle scales as `ann_matryoshka_ivf`. */
  def matryoshkaIvfTopk(raw: DataFrame, n: Long): DataFrame = {
    // consumed by routing (codebook sample + assignment), prefix scoring
    // (both candidate sides) and the exact rerank: eager pin, per the
    // shared-frame discipline
    val emb = CacheScope.pinned(normed(raw))
    val pn = prefixNormed(emb)
    val cand = prefixShortlist(scorePairs(sampledCandidates(emb, n), prefixProbes(pn),
      pn.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"), col("pnsq").as("n_pnsq")),
      QuantizedVec.qcosine(col("p_pref"), col("n_emb"),
        col("p_pnsq"), col("n_pnsq")).as("pcos")))
    topkRerank(cand, emb)
  }

  /** 1-bit binary-quantization signatures: each dimension's SIGN packed
    * into two 32-bit halves (bits 0..31 / 32..63 of the [[Dim]]-dim
    * vector). Two halves, not one 64-bit word, so the packing is a plain
    * SUM of disjoint non-negative powers of two — no sign-bit/overflow
    * hazard in either engine's BIGINT arithmetic. The bit is the RAW
    * float's sign (`x >= 0`): both engines compare the identical parquet
    * float32 against zero, so signatures are bit-for-bit reproducible
    * with no quantization step. */
  private def bqSignatures(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
      expr("aggregate(sequence(0, 31), 0L, (acc, i) -> acc + " +
        "(CASE WHEN element_at(embedding, i + 1) >= 0 " +
        "THEN shiftleft(1L, i) ELSE 0L END))").as("sig_lo"),
      expr("aggregate(sequence(32, 63), 0L, (acc, i) -> acc + " +
        "(CASE WHEN element_at(embedding, i + 1) >= 0 " +
        "THEN shiftleft(1L, i - 32) ELSE 0L END))").as("sig_hi"))

  /** Binary-quantization ANN (the vector-database "BQ + rescore" serving
    * path; sign-projection similarity per Charikar, STOC 2002): the
    * corpus index is ONE bit per dimension — 64-dim float32 → 8 bytes,
    * 32× smaller than raw vectors, 4× smaller than PQ's 8-byte codes with
    * no codebook to train — and the corpus-sized stage scores a
    * (probe, vector) pair with two XOR+popcounts instead of [[Dim]]
    * multiply-adds. The [[BqShortlist]] nearest-by-Hamming survivors
    * rerank exact full-dim through the shared [[topkRerank]], so the
    * emitted (cos, rank) arithmetic is the baseline's own.
    *
    * Scale shape: signature build is narrow per-row map work; the Hamming
    * scan is the broadcast-probe join emitting only
    * (probe_id, neighbor_id, ham) into the shortlist window
    * (WindowGroupLimit caps it at [[BqShortlist]]/probe per map partition
    * before the shuffle, the matryoshka lesson); the rerank joins only
    * the shortlist. At corpus sizes past the flat-scan decades the
    * Hamming stage composes with the sampled-IVF router exactly as
    * [[matryoshkaIvfTopk]] does — BQ replaces the prefix cosine as the
    * candidate scorer; the 8-byte signature is what lets that scan stay
    * in memory when raw vectors cannot. */
  def bqTopk(raw: DataFrame, n: Long): DataFrame = {
    val emb = CacheScope.pinned(normed(raw))
    val sigs = bqSignatures(emb)
    val probes = probeBatch(sigs, n)
      .select(col("vec_id").as("probe_id"), col("sig_lo").as("p_lo"),
        col("sig_hi").as("p_hi"))
    // deliberately NOT pinned: the popcount scan re-runs in ~the cost of
    // reading the 8-byte signatures (4.7 s at sf10), far under
    // checkpointing its 40M-row product
    def hammed = flatScan(probes, sigs,
      expr("bit_count(p_lo ^ sig_lo) + bit_count(p_hi ^ sig_hi)").cast("long").as("ham"))
    // BOUNDED-DOMAIN TOP-K: Hamming over [[Dim]] bits takes only Dim+1
    // values, so the per-probe shortlist cutoff comes from a (probe, ham)
    // HISTOGRAM — one map-side-combinable aggregation of ≤ probes×(Dim+1)
    // rows — instead of sorting the probes×corpus scan output. Measured
    // at sf10: the straightforward row_number window sorted 40M rows for
    // 18.5 s on a 4.7 s scan; the histogram path re-scans (4.7 s) and
    // windows only the ≤ cum(H*) ≈ shortlist-sized survivors. The
    // running-sum window here spans ≤ Dim+1 rows per probe — bounded by
    // the bit domain, not the corpus.
    val hcut = hammed.groupBy(col("probe_id"), col("ham"))
      .agg(count(lit(1)).as("c"))
      .withColumn("__cum", sum(col("c")).over(
        Window.partitionBy(col("probe_id")).orderBy(col("ham"))))
      .filter(col("__cum") - col("c") < BqShortlist)
      .groupBy(col("probe_id")).agg(max(col("ham")).as("hcut"))
    val cand = topPer(hammed.join(broadcast(hcut), "probe_id")
        .filter(col("ham") <= col("hcut")), "probe_id", BqShortlist, "srank",
        keepRank = false)(col("ham"), col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"))
    topkRerank(cand, emb)
  }

  // ---- hybrid retrieval (shared legs; plain + indexed rungs) ----------

  /** The joined documents ⋈ embeddings corpus both hybrid branches
    * retrieve over; callers wrap in CacheScope. */
  private def hybridCorpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").as("id"), col("text"))
      .join(Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding")), "id")

  /** The hybrid corpus as a [[normed]] frame (id → vec_id). */
  private def hybridNormed(hybrid: DataFrame): DataFrame =
    hybrid.select(col("id").as("vec_id"), col("embedding"),
      QuantizedVec.qnormsq(col("embedding")).as("nsq"))

  /** Lexical retrieval leg: df-capped inverted index (tokens with df ∈
    * [2,50] — bounded fan-out), shared-token counts, top-20 per probe.
    * Identical in both hybrid branches — per-probe work is already
    * bounded by (probe tokens × df cap), independent of corpus size. */
  private def lexicalLeg(hybrid: DataFrame, stride: Long): DataFrame = {
    val tok = hybrid.select(col("id"), explode(Hashing.tokens(col("text"))).as("token"))
      .distinct()
    val dfc = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 50)).select(col("token"))
    val idx = tok.join(dfc, "token").transform(CacheScope.cached) // probe + candidate sides
    val tcand = idx.filter(col("id") % stride === 0)
      .select(col("id").as("probe_id"), col("token"))
      .join(idx.select(col("id").as("neighbor_id"), col("token")), "token")
      .filter(col("neighbor_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("neighbor_id"))
      .agg(count(lit(1)).as("n_shared"))
    topPer(tcand, "probe_id", 20, "text_rank", keepRank = true)(
      col("n_shared").desc, col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), col("text_rank"))
  }

  /** Reciprocal-rank fusion of the two legs' top-20s + final top-k. */
  private def rrfFuse(trank: DataFrame, vrank: DataFrame): DataFrame = {
    val fused = trank.join(vrank, Seq("probe_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (col("text_rank") + 60), lit(0.0)) +
          coalesce(lit(1.0) / (col("vec_rank") + 60), lit(0.0)))
    topPer(fused, "probe_id", TopK, "rank", keepRank = true)(
      col("rrf").desc, col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), col("text_rank"),
        col("vec_rank"), col("rrf"), col("rank"))
  }

  /** Index-routed hybrid RRF — the >[[IvfLabelPathMax]] rung of
    * `ann_hybrid_rrf`: the vector leg routes probes through the
    * sampled-IVF lists ([[sampledCandidates]]) and exact-reranks only the
    * NProbe × [[IvfListTarget]] candidates per probe instead of scanning
    * the corpus, so per-probe cost is constant in n; the lexical leg is
    * the same df-capped inverted index (already corpus-bounded). Fusion
    * and every tiebreak are the shared [[rrfFuse]]. */
  def hybridIndexedRrf(hybrid: DataFrame, n: Long): DataFrame = {
    val trank = lexicalLeg(hybrid, probeStride(n))
    val emb = CacheScope.pinned(hybridNormed(hybrid))
    val vrank = topkRerank(sampledCandidates(emb, n), emb, 20)
      .select(col("probe_id"), col("neighbor_id"), col("rank").as("vec_rank"))
    rrfFuse(trank, vrank)
  }

  /** Full-scan hybrid RRF (the exact branch oracle scales run): vector leg
    * scores every (probe, vector) pair with the broadcast-probe codegen
    * cosine. */
  private def hybridPlainRrf(hybrid: DataFrame, n: Long): DataFrame = {
    val nemb = hybridNormed(hybrid)
    val vrank = flatCosineTopk(nemb, nemb, n, 20, "vec_rank")
      .select(col("probe_id"), col("neighbor_id"), col("vec_rank"))
    rrfFuse(lexicalLeg(hybrid, probeStride(n)), vrank)
  }

  // ---- semantic dedup and drift ---------------------------------------

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): semantic near-dedup
    * over the embedding column with CLUSTER-BOUNDED candidate generation —
    * cluster the corpus, score pairwise cosine only WITHIN a cluster, and
    * drop every vector whose similarity to a lower-id same-cluster vector
    * reaches [[SemTau]]. The clustering is the exact fine-list assignment
    * the IVF family runs ([[twoLevelRouting]] — coarse-then-fine,
    * K = n / [[IvfListTarget]] lists), so expected cluster size — and
    * with it per-vector candidate work — stays constant in n: the
    * quadratic all-pairs stage never exists, the same banding discipline
    * as every other dedup candidate generator. Returns one row
    * per DROPPED vector with its keeper (min same-cluster id above
    * threshold) and the strongest similarity that doomed it — the dedup
    * decision list a 100 TB curation pipeline anti-joins against. */
  def semanticDupes(raw: DataFrame, n: Long): DataFrame = {
    // self-joined three ways (codebook sample, pair left, pair right):
    // eager pin, per the shared-frame discipline
    val emb = CacheScope.pinned(normed(raw))
    val assigned = twoLevelRouting(emb, n, shareV2c = false)._3
      .select(col("neighbor_id").as("vec_id"), col("f").as("cluster"))
    val m = assigned.join(emb, "vec_id")
    val pairs = m.select(col("cluster"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), col("nsq").as("nsq_a"))
      .join(m.select(col("cluster"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"), col("nsq").as("nsq_b")), Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("cluster"), col("vec_a"), col("vec_b"),
        QuantizedVec.qcosine(col("emb_a"), col("emb_b"),
          col("nsq_a"), col("nsq_b")).as("cos"))
      .filter(col("cos") >= SemTau)
    pairs.groupBy(col("cluster"), col("vec_b"))
      .agg(min(col("vec_a")).as("keeper_id"), max(col("cos")).as("max_cos"))
      .select(col("vec_b").as("vec_id"), col("cluster"),
        col("keeper_id"), col("max_cos"))
  }

  /** The drift fixture's deterministic after-arm (the diff family's
    * in-engine mutation convention): deletes, rotated SEMANTIC edits,
    * rescaled COSMETIC edits, inserts. Shared by the batch diff and the
    * streaming consumer twin so the two score the identical snapshot. */
  def driftAfterArm(before: DataFrame): DataFrame = {
    val dbl = expr("transform(embedding, v -> CAST(v AS DOUBLE))")
    val rotated = expr(s"""transform(sequence(1, $Dim),
      i -> CAST(element_at(embedding, CAST((i + ${DriftRot - 1}) % $Dim + 1 AS INT)) AS DOUBLE))""")
    val scaled = expr("transform(embedding, v -> CAST(v AS DOUBLE) * CAST(1.01 AS DOUBLE))")
    before.filter(col("vec_id") % 17 =!= 2)
      .select(col("vec_id"),
        when(col("vec_id") % 17 === 5, rotated)
          .when(col("vec_id") % 17 === 11, scaled)
          .otherwise(dbl).as("embedding"))
      .unionByName(before.filter(col("vec_id") % 17 === 8)
        .select((col("vec_id") + DriftInsertBand).as("vec_id"),
          dbl.as("embedding")))
  }

  /** SEMANTIC DRIFT DIFF — the diff family (reference's 5-state keyed
    * snapshot diff, `extract_data.go:161-184`) crossed with the embedding
    * column: which rows changed, and of the UPDATED ones, which changed
    * MEANINGFULLY — the CDC-for-RAG primitive ("which docs need
    * re-embedding/re-indexing since the last index build" vs "which were
    * cosmetic touches the index can skip"). The after-arm is the
    * deterministic in-engine mutation convention every diff_* uses:
    * deletes (`vec_id % 17 = 2`), SEMANTIC edits (dims rotated left
    * [[DriftRot]] — an uncorrelated re-embedding), COSMETIC edits (every
    * component × 1.01 — a renormalization, cosine-invariant), inserts
    * (copies at +[[DriftInsertBand]]).
    *
    * Scale shape: ONE full-outer equi-join of the two quantized component
    * frames on (vec_id, d) IS simultaneously the diff (presence/equality
    * per key) and the drift score (dot + both norms accumulate in the
    * same keyed aggregation) — there is no second corpus pass to fetch
    * vectors for the delta, and the output is delta-sized (NOT_MODIFIED
    * keys drop in the same aggregation's filter). Strictly fewer passes
    * than diff-then-rejoin; plan-gated (no cartesian, no window, no
    * corpus re-join after the diff). The fixture's after-arm mutation
    * reads the parquet twice (mutated body + insert band union); in
    * production the after side is the incoming snapshot — one scan each.
    * Classification thresholds compare identical doubles in both engines
    * ([[DriftTau]] sits far from both planted classes). */
  def semanticDrift(before: DataFrame): DataFrame = {
    val after = driftAfterArm(before)
    val bq = components(before, Seq("vec_id"), "qv")
    val aq = components(after, Seq("vec_id"), "qv")
    val j = bq.select(col("vec_id"), col("d"), col("qv").as("bqv"))
      .join(aq.select(col("vec_id"), col("d"), col("qv").as("aqv")),
        Seq("vec_id", "d"), "full_outer")
    val g = j.groupBy(col("vec_id"))
      .agg(count(col("bqv")).as("nb"), count(col("aqv")).as("na"),
        sum(col("bqv") * col("aqv")).as("dot"),
        sum(col("bqv") * col("bqv")).as("bn"),
        sum(col("aqv") * col("aqv")).as("an"),
        max(abs(col("bqv") - col("aqv"))).as("maxdiff"))
    // nb =!= na catches a same-key row whose vectors differ ONLY in
    // dimensionality (equal overlap ⇒ maxdiff = 0 but a component was
    // added/removed) — unreachable at the fixed-Dim fixture, a real
    // UPDATED for variable-length inputs. Mirrored in the oracle WHERE.
    g.filter(col("nb") === 0 || col("na") === 0 || col("maxdiff") > 0 ||
        col("nb") =!= col("na"))
      .select(col("vec_id"),
        when(col("nb") === 0, SnapshotDiff.Inserted)
          .when(col("na") === 0, SnapshotDiff.Deleted)
          .otherwise(SnapshotDiff.Updated).as("status"),
        when(col("nb") > 0 && col("na") > 0,
          col("dot").cast("double") /
            (sqrt(col("bn").cast("double")) * sqrt(col("an").cast("double"))))
          .as("cos"))
      .withColumn("drift",
        when(col("status") === SnapshotDiff.Updated,
          when(col("cos") < DriftTau, "semantic").otherwise("cosmetic")))
  }

  // ---- k-means (Lloyd) -----------------------------------------------

  /** Per-(vector, codeword) quantized L2 against a BROADCAST codebook
    * (k × Dim rows — tiny at any corpus size): one equi-join on `d`, then
    * a keyed aggregation. Shared by seeding, every Lloyd step, and the
    * final report, so the distance arithmetic is defined once. */
  private def kmDist(comp: DataFrame, codebook: DataFrame): DataFrame =
    comp.join(broadcast(codebook), "d")
      .groupBy(col("vec_id"), col("c"))
      .agg(sum((col("qv") - col("qc")) * (col("qv") - col("qc"))).as("dist2"))

  /** Nearest codeword per vector (codeword-asc tiebreak, exact integers). */
  private def kmArgmin(dist: DataFrame): DataFrame =
    dist.groupBy(col("vec_id"))
      .agg(min(struct(col("dist2"), col("c"))).as("__mc"))
      .select(col("vec_id"), col("__mc.c").as("cluster"),
        col("__mc.dist2").as("dist2"))

  /** Full Lloyd k-means over quantized components, every step in exact
    * scaled-integer arithmetic (the actual trained-clustering stage the
    * IVF queries model with the `label` column): deterministic hash-first
    * seeds, then [[iters]] assign/update rounds — assignment is the argmin
    * quantized L2 against the broadcast codebook (equi-join on `d`, no
    * nested loop), the update is the floor-mean centroid (empty clusters
    * keep their previous codeword). All [[iters]] rounds unroll into ONE
    * lazy plan; per round the data-sized shuffles are the two keyed
    * aggregations (vec_id and (c, d)), both map-side-combined, and only
    * O(k × Dim) codebook state crosses rounds. Returns the FINAL
    * assignment (vec_id, cluster, dist2) against the post-update codebook.
    *
    * Cluster means stay < 2^53 (|qv| ≤ ~4e6 × corpus) so the floor of the
    * IEEE double division is exact; dist2 sums stay in BIGINT at fixture
    * scales (at 100 TB widen the wcss accumulator to DECIMAL(38,0) — the
    * per-pair dist2 itself is bounded by Dim × (2·4e6)² ≈ 2^62/corpus). */
  def kmeansAssign(raw: DataFrame, k: Int = KmK, iters: Int = KmIters): DataFrame = {
    // eager checkpoint, not a plain cache: every Lloyd round references
    // comp twice (distance pass + mean recompute) and the FINAL argmin
    // embeds the whole unrolled codebook lineage — a truncated leaf keeps
    // those plans and their task binaries flat, the same discipline as
    // GraphOps' static frames
    val comp = CacheScope.pinned(components(raw, Seq("vec_id"), "qv"))
    val cb0 = comp.join(broadcast(seedCodes(raw, k)), col("vec_id") === col("__sv"))
      .select(col("c"), col("d"), col("qv").as("qc"))
    val cb = (1 to iters).foldLeft(cb0) { (cb, _) =>
      lloydUpdate(cb, kmArgmin(kmDist(comp, cb)).join(comp, "vec_id"), "cluster")
    }
    kmArgmin(kmDist(comp, cb))
  }

  /** Per-cluster readout of [[kmeansAssign]]: size and exact within-cluster
    * sum of squares — the convergence diagnostic a clustering job reports. */
  def kmeansSummary(raw: DataFrame, k: Int = KmK, iters: Int = KmIters): DataFrame =
    kmeansAssign(raw, k, iters)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), sum(col("dist2")).as("wcss"))

  /** Offline IVF index build: write the tiny centroid table (+norms) and
    * the per-vector cluster assignment to `dir` as parquet — the index
    * lifecycle a production vector store uses (build once offline; every
    * later query routes against the centroid table and touches only its
    * NProbe clusters' vectors). Exactly the shared stages the inline
    * `ann_ivf_topk` runs; [[queryIvfIndex]] reproduces its results from
    * the persisted index, pinned by spec. */
  def buildIvfIndex(spark: SparkSession, sfDir: String, dir: String): Unit = {
    CacheScope.persisting(
        components(Tables.load(spark, sfDir, "embeddings"), Seq("vec_id", "label"), "qv")) { qn =>
      val (cq, cnorms) = centroids(qn)
      val assigned = topClusters(centroidScores(qn.drop("label"), vecNorms(qn), cq, cnorms), 1)
      cq.write.mode("overwrite").parquet(s"$dir/centroids")
      cnorms.write.mode("overwrite").parquet(s"$dir/centroid_norms")
      assigned.write.mode("overwrite").parquet(s"$dir/assignment")
    }
  }

  /** Query path against a persisted IVF index: route each probe to its
    * NProbe nearest centroids (probe components × the broadcast centroid
    * table — tiny), pull ONLY those clusters' vectors through the
    * assignment table, exact-rerank with the codegen dot. The corpus scan
    * cost is NProbe/K of the lake; the index build never re-runs. */
  def queryIvfIndex(spark: SparkSession, sfDir: String, dir: String): DataFrame = {
    val raw = Tables.load(spark, sfDir, "embeddings")
    val cq = spark.read.parquet(s"$dir/centroids")
    val cnorms = spark.read.parquet(s"$dir/centroid_norms")
    val pqn = components(probeBatch(raw, Tables.countOf(spark, sfDir, "embeddings")),
      Seq("vec_id"), "qv")
    labelRouted(centroidScores(pqn, vecNorms(pqn), cq, cnorms),
      spark.read.parquet(s"$dir/assignment"), raw)
  }

  val queries: Map[String, Q] = Map(
    // Per-label centroid of the embedding column: posexplode → one
    // (label, pos)-keyed aggregation of quantized components — the vector
    // averaging every IVF/clustering stage needs, in exact integer
    // arithmetic (sums are longs; the floored mean uses an offset so floor
    // division agrees across engines for negative components).
    "ann_label_centroids" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), col("pos").cast("long").as("pos"),
          QuantizedVec.quantized(col("x")).as("q"))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .withColumn("centroid_q",
          expr("(sum_q + 1000000000L * n) div n - 1000000000L"))),
    "ann_cosine_topk" -> ((spark, sfDir) =>
      exactCosineTopk(Tables.load(spark, sfDir, "embeddings"),
        Tables.countOf(spark, sfDir, "embeddings"))),
    // Recall@k as a first-class, continuously-gated query: the exact
    // baseline and the routed sampled-IVF path run in ONE plan, joined on
    // (probe, neighbor), and every probe reports its hit count. This turns
    // the round-11 lesson — recall decay that no oracle row could see —
    // into a standing gate: the oracle replays BOTH paths, so a routing
    // regression that drops recall changes n_hit and fails the hash
    // compare at every driver run, not just when someone remembers to run
    // RecallProbe. Cost = exact + IVF; the exact side is probe-batch ×
    // corpus (the same bill ann_cosine_topk already pays), so the report
    // stays feasible wherever the baseline itself is.
    "ann_recall_report" -> ((spark, sfDir) => {
      val raw = Tables.load(spark, sfDir, "embeddings")
      val n = Tables.countOf(spark, sfDir, "embeddings")
      val exact = exactCosineTopk(raw, n).select(col("probe_id"), col("neighbor_id"))
      val approx = ivfSampledTopk(raw, n)
        .select(col("probe_id"), col("neighbor_id"), lit(1L).as("__hit"))
      exact.join(approx, Seq("probe_id", "neighbor_id"), "left")
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
    }),
    // Filtered vector search (the vector-database "metadata predicate +
    // ANN" shape): the label predicate restricts the corpus BEFORE any
    // scoring, so it pushes into the parquet scan and the scored candidate
    // set shrinks with the filter's selectivity. Scoring/top-k are the
    // exact baseline's broadcast-probe + codegen QuantizedDot.
    "ann_filtered_topk" -> ((spark, sfDir) => {
      val raw = Tables.load(spark, sfDir, "embeddings")
      val corpusF = raw.filter(col("label") % 3 === 0)
        .select(col("vec_id"), col("label"), col("embedding"),
          QuantizedVec.qnormsq(col("embedding")).as("nsq"))
      flatCosineTopk(normed(raw), corpusF, Tables.countOf(spark, sfDir, "embeddings"),
        TopK, "rank", col("label"))
    }),
    // IVF-style ANN: the 100 TB path next to the brute-force baseline.
    // Index build = one deterministic centroid per `label` cluster (the
    // quantized per-dimension mean — in production this is an offline
    // k-means; the label column plays the trained assignment's role).
    // Query = route each probe to its NProbe nearest centroids, then
    // exact-rerank ONLY vectors assigned to those clusters: the scan is
    // NProbe/K of the corpus instead of all of it, and every join in the
    // plan is an equi-join (d, label) — no broadcast nested loop anywhere.
    // The rerank inner loop is the codegen'd QuantizedDot. Recall vs the
    // exact baseline is pinned by IvfRecallSpec.
    //
    // SCALE RUNG (auto-selected, like the changepoint window crossover):
    // the label axis is K=10 FIXED lists, so candidates/probe = NProbe/10
    // of the corpus — with probes ∝ n that total is QUADRATIC (measured:
    // sf1 2.98 s → sf10 ~200 s before this rung). Above
    // [[IvfLabelPathMax]] rows the query switches to [[ivfSampledTopk]],
    // whose list count GROWS with the data (K = n / [[IvfListTarget]]),
    // pinning candidates/probe at NProbe × IvfListTarget — constant — so
    // the total returns to linear. Oracle scales (≤ sf1) keep the label
    // path bit-exact.
    "ann_ivf_topk" -> ((spark, sfDir) => {
      val raw = Tables.load(spark, sfDir, "embeddings")
      val nVecs = Tables.countOf(spark, sfDir, "embeddings")
      bySize(nVecs)(ivfSampledTopk(raw, nVecs), {
        // quantized components feed centroid build, assignment, and routing
        val qn = components(raw, Seq("vec_id", "label"), "qv").transform(CacheScope.cached)
        // --- index build: per-label quantized mean, exact in both engines
        // (sum < 2^53 so the double division is correctly rounded IEEE)
        val (cq, cnorms) = centroids(qn)
        // --- assignment scores: nearest centroids via the d equi-join
        // (relational index build — the per-query hot path never does this)
        val ascore = centroidScores(qn.drop("label"), vecNorms(qn), cq, cnorms)
          .transform(CacheScope.cached) // consumed twice (assignment + probe routing): score once
        // --- candidate gen (label equi-join) + exact codegen rerank
        labelRouted(probeBatch(ascore, nVecs), topClusters(ascore, 1), raw)
      })
    }),
    // The sampled-codebook IVF rung EXERCISED DIRECTLY at oracle scales:
    // same ivfSampledTopk the auto-selected ann_ivf_topk serves with above
    // IvfLabelPathMax rows, called unconditionally so the branch that
    // actually runs at sf10 (and at 100 TB) carries its own green
    // CORRECTNESS row — the oracle replays the two-level codebook build,
    // coarse-then-fine assignment, flat probe routing and the exact
    // rerank with parameters computed in SQL from COUNT(*), so it stays
    // in lockstep at EVERY scale, not just where the constants coincide.
    "ann_ivf_sampled" -> ((spark, sfDir) =>
      ivfSampledTopk(Tables.load(spark, sfDir, "embeddings"),
        Tables.countOf(spark, sfDir, "embeddings"))),
    // MATRYOSHKA two-stage retrieval (Kusupati et al., NeurIPS 2022 — the
    // adaptive-dimension serving pattern): the corpus-sized stage scores
    // only the first [[MatPrefDim]] of [[Dim]] dims (4× fewer multiplies
    // per candidate — at 100 TB the scan stage is compute-bound, so the
    // prefix IS the speedup), keeps a [[MatShortlist]]-wide shortlist per
    // probe by prefix cosine, then reranks the shortlist exact full-dim.
    // [[QuantizedVec.QuantizedDot]] scores over the common prefix of its
    // two arrays, so `slice(embedding, 1, MatPrefDim)` against the FULL
    // neighbor vector computes the truncated dot with no second corpus
    // copy; norms for the truncated space come from the same slice. The
    // shortlist is an approximation (prefix order ≠ full order); recall vs
    // the exact baseline is pinned by spec, the arithmetic by the oracle
    // hash gate.
    //
    // SCALE RUNG (auto-selected, same crossover as ann_pq_topk): the plain
    // prefix scan is per-probe corpus-linear — with probes ∝ n that total
    // is QUADRATIC, and at fixture dim=64 the candidate sort dominates so
    // the prefix buys ~nothing locally (measured sf10 22.2 s ≈ the exact
    // scan; the multiply saving is real only at production dims). Above
    // [[IvfLabelPathMax]] the query hands off to [[matryoshkaIvfTopk]]:
    // route probes through the sampled-IVF lists, prefix-score only the
    // NProbe × IvfListTarget candidates, exact-rerank the shortlist —
    // per-probe work constant in n. Oracle scales (≤ sf1) keep this plain
    // path bit-exact; the rung carries its own oracle row
    // (ann_matryoshka_ivf) and recall pin (IvfRecallSpec).
    "ann_matryoshka_topk" -> ((spark, sfDir) => {
      val raw = Tables.load(spark, sfDir, "embeddings")
      val nVecs = Tables.countOf(spark, sfDir, "embeddings")
      bySize(nVecs)(matryoshkaIvfTopk(raw, nVecs), matryoshkaPlainTopk(raw, nVecs))
    }),
    // Binary-quantization rung — see [[bqTopk]]: 1 sign bit per dim (32×
    // memory compression, XOR+popcount candidate scoring), Hamming
    // shortlist, exact rerank. The fourth memory/compute point on the
    // quantization ladder: raw (exact) / 32-dim prefix (matryoshka) /
    // 8-byte PQ codes (ADC table lookups) / 8-byte sign bits (popcount).
    "ann_bq_topk" -> ((spark, sfDir) =>
      bqTopk(Tables.load(spark, sfDir, "embeddings"),
        Tables.countOf(spark, sfDir, "embeddings"))),
    // The Matryoshka-over-IVF rung exercised directly at oracle scales
    // (same pattern as ann_ivf_sampled / ann_ivfadc_topk): the branch that
    // serves ann_matryoshka_topk past IvfLabelPathMax gets its own
    // hash-checked CORRECTNESS row, with routing parameters computed in
    // SQL from COUNT(*).
    "ann_matryoshka_ivf" -> ((spark, sfDir) =>
      matryoshkaIvfTopk(Tables.load(spark, sfDir, "embeddings"),
        Tables.countOf(spark, sfDir, "embeddings"))),
    // The IMI two-level router exercised directly at oracle scales (same
    // pattern as ann_ivf_sampled): the rung the routing-cost ladder
    // documents ABOVE the flat sampled codebook — coarse-then-fine
    // assignment cuts the router's n × K cosines to n × (√K + K/√K),
    // pre-building the 10⁷-vector decade. Geometry (K, √K cells, strides,
    // probe batch) all derive from COUNT(*) in the oracle too.
    "ann_imi_topk" -> ((spark, sfDir) =>
      imiTopk(Tables.load(spark, sfDir, "embeddings"),
        Tables.countOf(spark, sfDir, "embeddings"))),
    // Product-quantization ANN — the MEMORY-COMPRESSED scan (FAISS
    // IndexPQ's ADC search): the corpus is encoded once to PqM=8 codes
    // per vector (64-dim float → 8 bytes, 32×; 4-bit packing → 64×), and a
    // query scans CODES, not vectors — per probe, each subspace's
    // distance-to-codeword lookup table (PqK=16 entries) is precomputed,
    // so scoring a neighbor is 4 integer adds. At 100 TB this is the path
    // that keeps the index in memory when raw vectors can't be; compose
    // with the IVF router for sub-linear candidate sets (IVFADC).
    //
    // Everything is deterministic exact-integer arithmetic: the codebook
    // seeds are the PqK hash-first corpus vectors (TakeOrdered — no global
    // sort), encoding is argmin quantized L2 with code-asc tiebreak, and
    // the oracle reproduces every code and distance bit-for-bit. ADC
    // distances are approximations OF true L2 — recall vs the exact
    // baseline is pinned by spec, the arithmetic by the hash gate.
    // SCALE RUNG (auto-selected, same crossover as ann_ivf_topk): above
    // [[IvfLabelPathMax]] the full-code ADC scan — per-probe work linear
    // in the corpus (measured sf10 54.6 s) — hands off to [[ivfAdcTopk]],
    // which routes each probe through the sampled-IVF lists first and runs
    // ADC only inside them: per-probe work NProbe × IvfListTarget,
    // constant in n. Oracle scales (≤ sf1) keep this full-scan path
    // bit-exact; the rung itself carries its own oracle row
    // (ann_ivfadc_topk) and recall pin (PqRecallSpec).
    "ann_pq_topk" -> ((spark, sfDir) => {
      val raw = Tables.load(spark, sfDir, "embeddings")
      val n = Tables.countOf(spark, sfDir, "embeddings")
      bySize(n)(ivfAdcTopk(raw, n), pqPlainTopk(raw, n))
    }),
    // The IVFADC rung exercised directly at oracle scales (same pattern as
    // ann_ivf_sampled): the branch that serves ann_pq_topk past
    // IvfLabelPathMax gets its own hash-checked CORRECTNESS row, with
    // routing/coding parameters computed in SQL from COUNT(*).
    "ann_ivfadc_topk" -> ((spark, sfDir) =>
      ivfAdcTopk(Tables.load(spark, sfDir, "embeddings"),
        Tables.countOf(spark, sfDir, "embeddings"))),
    // K-MEANS proper — the offline clustering stage the IVF queries model
    // with the pre-labeled `label` column (see ann_ivf_topk's scaladoc):
    // deterministic hash-seeded Lloyd iterations in exact scaled-integer
    // arithmetic, reported as per-cluster size + exact WCSS. Everything is
    // equi-joins against a broadcast O(k × Dim) codebook; the oracle
    // replays the identical recurrence as an unrolled CTE chain, so even
    // the ITERATIVE trainer is hash-checked, not smoke-tested. Blob
    // recovery on separated data is pinned by KmeansSpec.
    "ann_kmeans" -> ((spark, sfDir) =>
      kmeansSummary(Tables.load(spark, sfDir, "embeddings"))),
    // HYBRID retrieval (the RAG-serving shape): a lexical leg and a vector
    // leg retrieve top-20 candidates independently, then RECIPROCAL RANK
    // FUSION (rrf = Σ 1/(60+rank)) merges them — the standard fusion rule
    // when the two score scales are incomparable. The corpus is items
    // holding BOTH a text and an embedding (documents ⋈ embeddings on id).
    // Text candidates come from the inverted-index discipline (tokens with
    // df ∈ [2,50] — bounded fan-out, boilerplate never explodes); vector
    // candidates from the broadcast-probe codegen cosine. Ranks are exact
    // integers; the only doubles are the 1/(60+rank) terms, identical in
    // both engines. Each leg is WindowGroupLimit-pruned to its top-20
    // before the fuse, so the full-outer merge touches ≤40 rows per probe.
    // SCALE RUNG (auto-selected): past [[IvfLabelPathMax]] the full-scan
    // vector leg — per-probe cost corpus-linear (measured sf10 32.3 s,
    // ratio 11.4) — hands off to [[hybridIndexedRrf]], whose vector leg
    // routes through the sampled-IVF lists. Oracle scales keep this exact
    // branch bit-for-bit; the rung carries its own oracle row
    // (ann_hybrid_indexed) and overlap pin (IvfRecallSpec).
    "ann_hybrid_rrf" -> ((spark, sfDir) => {
      val hybrid = hybridCorpus(spark, sfDir)
        .transform(CacheScope.cached) // both retrieval legs scan it
      val n = CacheScope.sessionCount("hybrid", sfDir, spark)(hybrid.count())
      bySize(n)(hybridIndexedRrf(hybrid, n), hybridPlainRrf(hybrid, n))
    }),
    // The indexed-hybrid rung exercised directly at oracle scales (same
    // pattern as ann_ivf_sampled / ann_ivfadc_topk).
    "ann_hybrid_indexed" -> ((spark, sfDir) => {
      val hybrid = hybridCorpus(spark, sfDir).transform(CacheScope.cached)
      hybridIndexedRrf(hybrid, CacheScope.sessionCount("hybrid", sfDir, spark)(hybrid.count()))
    }),
    // Sign-LSH near-dup pairs — [[lshNearDupPairs]]. SCALE RUNG
    // (auto-selected, the IvfLabelPathMax ladder pattern): oracle scales
    // keep the single 16-bit band bit-for-bit; past the threshold the
    // banded geometry ([[LshBands]] × 16 bits) engages, because the
    // single band's pair recall measured 0.4525 at sf10 — six
    // independent bands trade 6× banded candidate volume (still
    // equi-joined, never all-pairs) for ~0.97 expected recall.
    // LshBandedRecallSpec pins both geometries' recall on a perturbed
    // fixture where banding actually engages.
    "ann_lsh_near_dup" -> ((spark, sfDir) => {
      Tables.load(spark, sfDir, "embeddings").createOrReplaceTempView("embeddings")
      val corpus = spark.sql(vecCorpusSql)
      val n = CacheScope.sessionCount("veccorpus", sfDir, spark)(corpus.count())
      lshNearDupPairs(corpus, bySize(n)(LshBands, 1))
    }),
    // Semantic drift diff over the embeddings table — see [[semanticDrift]].
    "diff_semantic_drift" -> ((spark, sfDir) =>
      semanticDrift(Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding")))),
    // Its streaming consumer twin: arriving rows scored statelessly
    // against the static before index — see
    // [[graft.streaming.StreamingSemanticDrift]].
    "stream_semantic_drift" -> ((spark, sfDir) =>
      graft.streaming.StreamingSemanticDrift.runDriftOnce(spark, sfDir)),
    // SemDeDup over the planted near-dup corpus (embeddings itself has no
    // duplicates) — cluster-bounded semantic dedup, see [[semanticDupes]].
    "dedup_semantic" -> ((spark, sfDir) => {
      Tables.load(spark, sfDir, "embeddings").createOrReplaceTempView("embeddings")
      val corpus = spark.sql(vecCorpusSql)
      semanticDupes(corpus,
        CacheScope.sessionCount("veccorpus", sfDir, spark)(corpus.count()))
    })
  )

  // ---- oracle SQL ----------------------------------------------------

  private val qv = QuantizedVec.quantizeSql("CAST(embedding[i] AS DOUBLE)")

  private val qnCte: (String, String) =
    "qn" ->
      s"""SELECT vec_id, i - 1 AS d, $qv AS qv
         |FROM corpus, range(1, ${Dim + 1}) r(i)""".stripMargin

  private val normsCte: (String, String) =
    "norms" -> "SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS nsq FROM qn GROUP BY vec_id"

  /** Probe-stride params CTE: pstride = max(100, n/200) over `corpus`,
    * mirroring [[probeStride]] so every oracle derives the probe batch from
    * COUNT(*) exactly as the engine does — no scale where the constants
    * merely coincide ([[ivfRoutingCtes]] carries its own copy in `params`). */
  private val pstrideCte: String =
    "pp AS (SELECT GREATEST(100, COUNT(*) // 200) AS pstride FROM corpus)"

  /** Sampled-IVF routing CTE chain (mirrors [[sampledCandidates]], i.e.
    * the shared [[twoLevelRouting]] assignment + flat probe routing):
    * geometry (K, √K cells, strides, probe batch) computed from COUNT(*)
    * over `corpus`, fine codebook clustered into coarse cells, every
    * vector assigned coarse-then-fine, probes scored flat against all K
    * fine centroids, and the final `cand(probe_id, neighbor_id)` set.
    * `assigned` keeps its historical (neighbor_id, c) interface — `c` is
    * now the FINE-LIST id — so every consumer's tail (rerank, ADC,
    * prefix, SemDeDup pairs) is unchanged. Requires the qn + norms CTEs.
    * The f2c and vcell CTEs gate on k vs [[FlatAssignMax]] exactly as
    * [[twoLevelRouting]]'s cheap-geometry short-circuit does: below the
    * threshold every fine list maps to cell 0 and every vector probes it,
    * which collapses v2fd/assigned to the flat all-K argmax — the same
    * rows the engine's flat branch emits. (`ann_imi_topk` carries its own
    * ungated copy of this chain: the IMI rung never takes the flat
    * branch, so the two-level SQL stays oracle-verified at gate scales.) */
  private val ivfRoutingCtes: String =
    s"""params AS (
       |  SELECT n, k, GREATEST(1, n // k) AS s,
       |         GREATEST(1, k // GREATEST(2,
       |           CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT))) AS cf,
       |         GREATEST(100, n // 200) AS pstride
       |  FROM (SELECT n, GREATEST(10, n // $IvfListTarget) AS k
       |        FROM (SELECT COUNT(*) AS n FROM corpus) t0) t1),
       |fcents AS (SELECT vec_id AS f FROM corpus, params WHERE vec_id % params.s = 0),
       |ccents AS (SELECT vec_id AS c FROM corpus, params
       |           WHERE vec_id % (params.s * params.cf) = 0),
       |f2cd AS (
       |  SELECT fc.f, cc.c, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
       |  FROM fcents fc JOIN qn qa ON qa.vec_id = fc.f
       |       CROSS JOIN ccents cc
       |       JOIN qn qb ON qb.vec_id = cc.c AND qb.d = qa.d
       |  GROUP BY fc.f, cc.c),
       |f2c AS (
       |  SELECT f, c FROM (
       |    SELECT fd.f, fd.c,
       |           ROW_NUMBER() OVER (PARTITION BY fd.f ORDER BY
       |             CAST(fd.dot AS DOUBLE) /
       |               (sqrt(CAST(nf.nsq AS DOUBLE)) * sqrt(CAST(nc.nsq AS DOUBLE)))
       |             DESC, fd.c) AS rn
       |    FROM f2cd fd JOIN norms nf ON nf.vec_id = fd.f
       |                 JOIN norms nc ON nc.vec_id = fd.c) t, params
       |  WHERE rn = 1 AND params.k >= $FlatAssignMax
       |  UNION ALL
       |  SELECT f, CAST(0 AS BIGINT) AS c FROM fcents, params
       |  WHERE params.k < $FlatAssignMax),
       |v2cd AS (
       |  SELECT a.vec_id, cc.c, CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
       |  FROM qn a JOIN qn b ON b.d = a.d JOIN ccents cc ON cc.c = b.vec_id
       |  GROUP BY a.vec_id, cc.c),
       |v2cs AS (
       |  SELECT vd.vec_id, vd.c,
       |         CAST(dot AS DOUBLE) /
       |           (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS ccos
       |  FROM v2cd vd JOIN norms na ON na.vec_id = vd.vec_id
       |               JOIN norms nb ON nb.vec_id = vd.c),
       |vcell AS (
       |  SELECT vec_id, c FROM (
       |    SELECT vec_id, c,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c) AS rn
       |    FROM v2cs) t, params
       |  WHERE rn <= $ImiAssignProbe AND params.k >= $FlatAssignMax
       |  UNION ALL
       |  SELECT vec_id, CAST(0 AS BIGINT) AS c FROM corpus, params
       |  WHERE params.k < $FlatAssignMax),
       |v2fd AS (
       |  SELECT v.vec_id, fc.f, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
       |  FROM vcell v JOIN f2c fc ON fc.c = v.c
       |       JOIN qn qa ON qa.vec_id = v.vec_id
       |       JOIN qn qb ON qb.vec_id = fc.f AND qb.d = qa.d
       |  GROUP BY v.vec_id, fc.f),
       |assigned AS (
       |  SELECT vec_id AS neighbor_id, f AS c FROM (
       |    SELECT vd.vec_id, vd.f,
       |           ROW_NUMBER() OVER (PARTITION BY vd.vec_id ORDER BY
       |             CAST(vd.dot AS DOUBLE) /
       |               (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
       |             DESC, vd.f) AS rn
       |    FROM v2fd vd JOIN norms na ON na.vec_id = vd.vec_id
       |                 JOIN norms nb ON nb.vec_id = vd.f) t WHERE rn = 1),
       |pfd AS (
       |  SELECT a.vec_id AS probe_id, fc.f, CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
       |  FROM qn a CROSS JOIN params
       |       JOIN qn b ON b.d = a.d JOIN fcents fc ON fc.f = b.vec_id
       |  WHERE a.vec_id % params.pstride = 0
       |  GROUP BY a.vec_id, fc.f),
       |probeclusters AS (
       |  SELECT probe_id, f AS c FROM (
       |    SELECT pd.probe_id, pd.f,
       |           ROW_NUMBER() OVER (PARTITION BY pd.probe_id ORDER BY
       |             CAST(pd.dot AS DOUBLE) /
       |               (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
       |             DESC, pd.f) AS rn
       |    FROM pfd pd JOIN norms na ON na.vec_id = pd.probe_id
       |                JOIN norms nb ON nb.vec_id = pd.f) t, params
       |  WHERE rn <= GREATEST($NProbe,
       |    CAST(ceil(sqrt(CAST(params.k AS DOUBLE))) AS BIGINT))),
       |cand AS (
       |  SELECT p.probe_id, a.neighbor_id
       |  FROM probeclusters p JOIN assigned a ON a.c = p.c
       |  WHERE a.neighbor_id <> p.probe_id)""".stripMargin

  /** PQ coding CTE chain (mirrors [[pqStages]]): hash-first seeds, seed
    * codebook, one Lloyd refinement, the per-(vector, subspace, codeword)
    * distance table and the encoding. Requires the corpus + qn CTEs. */
  private val pqCodingCtes: String =
    s"""pqp AS (
       |  SELECT pqk, pqsl, GREATEST(1, n // ($PqTrainPerCode * pqk)) AS tst
       |  FROM (SELECT n,
       |               CASE WHEN n < $PqKStepAt THEN $PqK ELSE $PqKBig END AS pqk,
       |               CASE WHEN n < $PqKStepAt THEN $PqShortlist
       |                    ELSE $PqShortlistBig END AS pqsl
       |        FROM (SELECT COUNT(*) AS n FROM corpus) t0) t1),
       |seeds AS (
       |  SELECT sv, c FROM (
       |    SELECT vec_id AS sv, ROW_NUMBER() OVER (
       |      ORDER BY ${Hashing.hashHexSql("CAST(vec_id AS VARCHAR)")}, vec_id) - 1 AS c
       |    FROM corpus) t, pqp WHERE t.c < pqp.pqk),
       |cb0 AS (
       |  SELECT s.c, q.d, q.qv AS qc
       |  FROM seeds s JOIN qn q ON q.vec_id = s.sv),
       |dist0 AS (
       |  SELECT q.vec_id, q.d // ${Dim / PqM} AS m, cb0.c,
       |         CAST(SUM((q.qv - cb0.qc) * (q.qv - cb0.qc)) AS BIGINT) AS dist2
       |  FROM qn q JOIN cb0 ON cb0.d = q.d CROSS JOIN pqp
       |  WHERE q.vec_id % pqp.tst = 0
       |  GROUP BY q.vec_id, q.d // ${Dim / PqM}, cb0.c),
       |assign0 AS (
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                                 ORDER BY dist2, c) AS rn
       |    FROM dist0) t WHERE rn = 1),
       |means AS (
       |  SELECT a.code, q.d,
       |         CAST(floor(CAST(SUM(q.qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qm
       |  FROM assign0 a JOIN qn q
       |    ON q.vec_id = a.vec_id AND q.d // ${Dim / PqM} = a.m
       |  GROUP BY a.code, q.d),
       |cb AS (
       |  SELECT cb0.c, cb0.d, COALESCE(m.qm, cb0.qc) AS qc
       |  FROM cb0 LEFT JOIN means m ON m.code = cb0.c AND m.d = cb0.d),
       |dist AS (
       |  SELECT q.vec_id, q.d // ${Dim / PqM} AS m, cb.c,
       |         CAST(SUM((q.qv - cb.qc) * (q.qv - cb.qc)) AS BIGINT) AS dist2
       |  FROM qn q JOIN cb ON cb.d = q.d
       |  GROUP BY q.vec_id, q.d // ${Dim / PqM}, cb.c),
       |enc AS (
       |  SELECT vec_id AS neighbor_id, m, c AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                                 ORDER BY dist2, c) AS rn
       |    FROM dist) t WHERE rn = 1)""".stripMargin

  /** Shared PQ tail (mirrors [[pqRerank]]): ADC shortlist → exact rerank.
    * Requires an `adc(probe_id, neighbor_id, adc)` CTE + qn. */
  private val pqRerankSql: String =
    s"""shortlist AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |                                 ORDER BY adc, neighbor_id) AS srank
       |    FROM adc) t, pqp WHERE srank <= pqp.pqsl),
       |ex AS (
       |  SELECT s.probe_id, s.neighbor_id,
       |         CAST(SUM((qa.qv - qb.qv) * (qa.qv - qb.qv)) AS BIGINT) AS l2
       |  FROM shortlist s
       |  JOIN qn qa ON qa.vec_id = s.probe_id
       |  JOIN qn qb ON qb.vec_id = s.neighbor_id AND qb.d = qa.d
       |  GROUP BY s.probe_id, s.neighbor_id)
       |SELECT probe_id, neighbor_id, l2, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |                               ORDER BY l2, neighbor_id) AS rank
       |  FROM ex) t WHERE rank <= $TopK""".stripMargin

  val oracleSql: Map[String, String] = oracleSqlTail ++ Map(
    "ann_label_centroids" ->
      s"""WITH q AS (
        |  SELECT label, unnest(list_transform(range(len(embedding)),
        |    i -> {'pos': i,
        |          'q': ${QuantizedVec.quantizeSql("CAST(embedding[i+1] AS DOUBLE)")}}
        |    )) AS s
        |  FROM embeddings)
        |SELECT label, s.pos AS pos, COUNT(*) AS n,
        |  CAST(SUM(s.q) AS BIGINT) AS sum_q,
        |  (CAST(SUM(s.q) AS BIGINT) + 1000000000 * COUNT(*)) // COUNT(*)
        |    - 1000000000 AS centroid_q
        |FROM q GROUP BY label, s.pos""".stripMargin,
    "ann_cosine_topk" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |${qnCte._1} AS (${qnCte._2}),
         |${normsCte._1} AS (${normsCte._2}),
         |$pstrideCte,
         |dots AS (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |         CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
         |  FROM qn a JOIN qn b ON a.d = b.d AND a.vec_id <> b.vec_id
         |  CROSS JOIN pp
         |  WHERE a.vec_id % pp.pstride = 0
         |  GROUP BY a.vec_id, b.vec_id),
         |scored AS (
         |  SELECT probe_id, neighbor_id,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM dots JOIN norms na ON na.vec_id = probe_id
         |            JOIN norms nb ON nb.vec_id = neighbor_id)
         |SELECT probe_id, neighbor_id, cos, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                               ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= $TopK""".stripMargin,
    // binary quantization replayed: the sign bits come from the RAW
    // parquet float vs zero (no arithmetic to drift), packed as a SUM of
    // disjoint powers of two into the same two 32-bit halves; Hamming =
    // bit_count(xor(lo)) + bit_count(xor(hi)); shortlist and exact rerank
    // use the engine's tiebreaks (ham asc then neighbor, cos desc then
    // neighbor)
    "ann_bq_topk" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |${qnCte._1} AS (${qnCte._2}),
         |${normsCte._1} AS (${normsCte._2}),
         |$pstrideCte,
         |bq_c AS (
         |  SELECT vec_id, i - 1 AS d, embedding[i] AS v
         |  FROM corpus, range(1, ${Dim + 1}) r(i)),
         |bq_sig AS (
         |  SELECT vec_id,
         |    CAST(SUM(CASE WHEN v >= 0 AND d < 32
         |                  THEN CAST(1 AS BIGINT) << d ELSE 0 END) AS BIGINT) AS sig_lo,
         |    CAST(SUM(CASE WHEN v >= 0 AND d >= 32
         |                  THEN CAST(1 AS BIGINT) << (d - 32) ELSE 0 END) AS BIGINT) AS sig_hi
         |  FROM bq_c GROUP BY vec_id),
         |bq_ham AS (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |         bit_count(xor(a.sig_lo, b.sig_lo))
         |           + bit_count(xor(a.sig_hi, b.sig_hi)) AS ham
         |  FROM bq_sig a JOIN bq_sig b ON a.vec_id <> b.vec_id
         |  CROSS JOIN pp
         |  WHERE a.vec_id % pp.pstride = 0),
         |bq_short AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                                 ORDER BY ham, neighbor_id) AS srank
         |    FROM bq_ham) t WHERE srank <= $BqShortlist),
         |bq_dots AS (
         |  SELECT s.probe_id, s.neighbor_id,
         |         CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM bq_short s
         |  JOIN qn qa ON qa.vec_id = s.probe_id
         |  JOIN qn qb ON qb.vec_id = s.neighbor_id AND qb.d = qa.d
         |  GROUP BY s.probe_id, s.neighbor_id),
         |bq_scored AS (
         |  SELECT probe_id, neighbor_id,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM bq_dots JOIN norms na ON na.vec_id = probe_id
         |               JOIN norms nb ON nb.vec_id = neighbor_id)
         |SELECT probe_id, neighbor_id, cos, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                               ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM bq_scored) t WHERE rank <= $TopK""".stripMargin,
    // matryoshka replayed: prefix dots are the same qn join restricted to
    // d < MatPrefDim, prefix norms likewise; shortlist and rerank use the
    // engine's exact tiebreaks (score, then neighbor_id)
    "ann_matryoshka_topk" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |${qnCte._1} AS (${qnCte._2}),
         |${normsCte._1} AS (${normsCte._2}),
         |pnorms AS (
         |  SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS pnsq
         |  FROM qn WHERE d < $MatPrefDim GROUP BY vec_id),
         |$pstrideCte,
         |pdots AS (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |         CAST(SUM(a.qv * b.qv) AS BIGINT) AS pdot
         |  FROM qn a JOIN qn b ON a.d = b.d AND a.vec_id <> b.vec_id
         |  CROSS JOIN pp
         |  WHERE a.vec_id % pp.pstride = 0 AND a.d < $MatPrefDim
         |  GROUP BY a.vec_id, b.vec_id),
         |pscored AS (
         |  SELECT probe_id, neighbor_id,
         |         CAST(pdot AS DOUBLE) / (sqrt(CAST(pa.pnsq AS DOUBLE)) * sqrt(CAST(pb.pnsq AS DOUBLE))) AS pcos
         |  FROM pdots JOIN pnorms pa ON pa.vec_id = probe_id
         |             JOIN pnorms pb ON pb.vec_id = neighbor_id),
         |short AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                                 ORDER BY pcos DESC, neighbor_id) AS srank
         |    FROM pscored) t WHERE srank <= $MatShortlist),
         |fdots AS (
         |  SELECT s.probe_id, s.neighbor_id,
         |         CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM short s
         |  JOIN qn qa ON qa.vec_id = s.probe_id
         |  JOIN qn qb ON qb.vec_id = s.neighbor_id AND qb.d = qa.d
         |  GROUP BY s.probe_id, s.neighbor_id),
         |fscored AS (
         |  SELECT probe_id, neighbor_id,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM fdots JOIN norms na ON na.vec_id = probe_id
         |             JOIN norms nb ON nb.vec_id = neighbor_id)
         |SELECT probe_id, neighbor_id, cos, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                               ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM fscored) t WHERE rank <= $TopK""".stripMargin,
    // IMI two-level router replayed: geometry from COUNT(*), coarse cells
    // as a stride sample OF the fine codebook, fine→coarse / vec→coarse /
    // vec→fine-within-cell argmaxes with the engine's (cos desc, id asc)
    // tiebreaks, probe routing coarse-then-fine, shared exact-rerank tail
    "ann_imi_topk" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |${qnCte._1} AS (${qnCte._2}),
         |${normsCte._1} AS (${normsCte._2}),
         |prm AS (
         |  SELECT n, k, GREATEST(1, n // k) AS s,
         |         GREATEST(1, k // GREATEST(2,
         |           CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT))) AS cf,
         |         GREATEST(100, n // 200) AS pstride
         |  FROM (SELECT n, GREATEST(10, n // $IvfListTarget) AS k
         |        FROM (SELECT COUNT(*) AS n FROM corpus) t0) t1),
         |fcents AS (SELECT vec_id AS f FROM corpus, prm WHERE vec_id % prm.s = 0),
         |ccents AS (SELECT vec_id AS c FROM corpus, prm
         |           WHERE vec_id % (prm.s * prm.cf) = 0),
         |f2cd AS (
         |  SELECT fc.f, cc.c, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM fcents fc JOIN qn qa ON qa.vec_id = fc.f
         |       CROSS JOIN ccents cc
         |       JOIN qn qb ON qb.vec_id = cc.c AND qb.d = qa.d
         |  GROUP BY fc.f, cc.c),
         |f2c AS (
         |  SELECT f, c FROM (
         |    SELECT fd.f, fd.c,
         |           ROW_NUMBER() OVER (PARTITION BY fd.f ORDER BY
         |             CAST(fd.dot AS DOUBLE) /
         |               (sqrt(CAST(nf.nsq AS DOUBLE)) * sqrt(CAST(nc.nsq AS DOUBLE)))
         |             DESC, fd.c) AS rn
         |    FROM f2cd fd JOIN norms nf ON nf.vec_id = fd.f
         |                 JOIN norms nc ON nc.vec_id = fd.c) t WHERE rn = 1),
         |v2cd AS (
         |  SELECT a.vec_id, cc.c, CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
         |  FROM qn a JOIN qn b ON b.d = a.d JOIN ccents cc ON cc.c = b.vec_id
         |  GROUP BY a.vec_id, cc.c),
         |v2cs AS (
         |  SELECT vd.vec_id, vd.c,
         |         CAST(dot AS DOUBLE) /
         |           (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS ccos
         |  FROM v2cd vd JOIN norms na ON na.vec_id = vd.vec_id
         |               JOIN norms nb ON nb.vec_id = vd.c),
         |vcell AS (
         |  SELECT vec_id, c FROM (
         |    SELECT vec_id, c,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c) AS rn
         |    FROM v2cs) t WHERE rn <= $ImiAssignProbe),
         |v2fd AS (
         |  SELECT v.vec_id, fc.f, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM vcell v JOIN f2c fc ON fc.c = v.c
         |       JOIN qn qa ON qa.vec_id = v.vec_id
         |       JOIN qn qb ON qb.vec_id = fc.f AND qb.d = qa.d
         |  GROUP BY v.vec_id, fc.f),
         |assigned AS (
         |  SELECT vec_id AS neighbor_id, f FROM (
         |    SELECT vd.vec_id, vd.f,
         |           ROW_NUMBER() OVER (PARTITION BY vd.vec_id ORDER BY
         |             CAST(vd.dot AS DOUBLE) /
         |               (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
         |             DESC, vd.f) AS rn
         |    FROM v2fd vd JOIN norms na ON na.vec_id = vd.vec_id
         |                 JOIN norms nb ON nb.vec_id = vd.f) t WHERE rn = 1),
         |pcells AS (
         |  SELECT vec_id AS probe_id, c FROM (
         |    SELECT s.vec_id, s.c,
         |           ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY s.ccos DESC, s.c) AS rn
         |    FROM v2cs s, prm WHERE s.vec_id % prm.pstride = 0) t
         |  WHERE rn <= $ImiCoarseProbe),
         |pfined AS (
         |  SELECT p.probe_id, fc.f, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM pcells p JOIN f2c fc ON fc.c = p.c
         |       JOIN qn qa ON qa.vec_id = p.probe_id
         |       JOIN qn qb ON qb.vec_id = fc.f AND qb.d = qa.d
         |  GROUP BY p.probe_id, fc.f),
         |plists AS (
         |  SELECT probe_id, f FROM (
         |    SELECT pd.probe_id, pd.f,
         |           ROW_NUMBER() OVER (PARTITION BY pd.probe_id ORDER BY
         |             CAST(pd.dot AS DOUBLE) /
         |               (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
         |             DESC, pd.f) AS rn
         |    FROM pfined pd JOIN norms na ON na.vec_id = pd.probe_id
         |                   JOIN norms nb ON nb.vec_id = pd.f) t, prm
         |  WHERE rn <= GREATEST($NProbe,
         |    CAST(ceil(sqrt(CAST(prm.k AS DOUBLE))) AS BIGINT))),
         |cand AS (
         |  SELECT p.probe_id, a.neighbor_id
         |  FROM plists p JOIN assigned a ON a.f = p.f
         |  WHERE a.neighbor_id <> p.probe_id),
         |pdots AS (
         |  SELECT cd.probe_id, cd.neighbor_id, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM cand cd JOIN qn qa ON qa.vec_id = cd.probe_id
         |               JOIN qn qb ON qb.vec_id = cd.neighbor_id AND qb.d = qa.d
         |  GROUP BY cd.probe_id, cd.neighbor_id),
         |scored AS (
         |  SELECT p.probe_id, p.neighbor_id,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM pdots p JOIN norms na ON na.vec_id = p.probe_id
         |               JOIN norms nb ON nb.vec_id = p.neighbor_id)
         |SELECT probe_id, neighbor_id, cos, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                               ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= $TopK""".stripMargin,
    // matryoshka-over-IVF replayed: the shared routing CTEs produce the
    // cand set (parameters from COUNT(*), exactly as the engine), the
    // prefix dots are the same qn join RESTRICTED to cand and d <
    // MatPrefDim, then the plain path's shortlist + full-dim rerank tail
    "ann_matryoshka_ivf" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |${qnCte._1} AS (${qnCte._2}),
         |${normsCte._1} AS (${normsCte._2}),
         |$ivfRoutingCtes,
         |pnorms AS (
         |  SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS pnsq
         |  FROM qn WHERE d < $MatPrefDim GROUP BY vec_id),
         |pdots AS (
         |  SELECT c.probe_id, c.neighbor_id, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS pdot
         |  FROM cand c JOIN qn qa ON qa.vec_id = c.probe_id AND qa.d < $MatPrefDim
         |              JOIN qn qb ON qb.vec_id = c.neighbor_id AND qb.d = qa.d
         |  GROUP BY c.probe_id, c.neighbor_id),
         |pscored AS (
         |  SELECT probe_id, neighbor_id,
         |         CAST(pdot AS DOUBLE) / (sqrt(CAST(pa.pnsq AS DOUBLE)) * sqrt(CAST(pb.pnsq AS DOUBLE))) AS pcos
         |  FROM pdots JOIN pnorms pa ON pa.vec_id = probe_id
         |             JOIN pnorms pb ON pb.vec_id = neighbor_id),
         |short AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                                 ORDER BY pcos DESC, neighbor_id) AS srank
         |    FROM pscored) t WHERE srank <= $MatShortlist),
         |fdots AS (
         |  SELECT s.probe_id, s.neighbor_id,
         |         CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM short s
         |  JOIN qn qa ON qa.vec_id = s.probe_id
         |  JOIN qn qb ON qb.vec_id = s.neighbor_id AND qb.d = qa.d
         |  GROUP BY s.probe_id, s.neighbor_id),
         |fscored AS (
         |  SELECT probe_id, neighbor_id,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM fdots JOIN norms na ON na.vec_id = probe_id
         |             JOIN norms nb ON nb.vec_id = neighbor_id)
         |SELECT probe_id, neighbor_id, cos, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                               ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM fscored) t WHERE rank <= $TopK""".stripMargin,
    "ann_filtered_topk" ->
      s"""WITH corpus AS (SELECT vec_id, label, embedding FROM embeddings),
         |qn AS (
         |  SELECT vec_id, label, i - 1 AS d, $qv AS qv
         |  FROM corpus, range(1, ${Dim + 1}) r(i)),
         |norms AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS nsq FROM qn GROUP BY vec_id),
         |$pstrideCte,
         |dots AS (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, MIN(b.label) AS label,
         |         CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
         |  FROM qn a JOIN qn b ON a.d = b.d AND a.vec_id <> b.vec_id
         |  CROSS JOIN pp
         |  WHERE a.vec_id % pp.pstride = 0 AND b.label % 3 = 0
         |  GROUP BY a.vec_id, b.vec_id),
         |scored AS (
         |  SELECT probe_id, neighbor_id, label,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM dots JOIN norms na ON na.vec_id = probe_id
         |            JOIN norms nb ON nb.vec_id = neighbor_id)
         |SELECT probe_id, neighbor_id, label, cos, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                               ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= $TopK""".stripMargin,
    "ann_ivf_topk" ->
      s"""WITH corpus AS (SELECT vec_id, label, embedding FROM embeddings),
         |qn AS (
         |  SELECT vec_id, label, i - 1 AS d, $qv AS qv
         |  FROM corpus, range(1, ${Dim + 1}) r(i)),
         |norms AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS nsq FROM qn GROUP BY vec_id),
         |cq AS (
         |  SELECT label, d, CAST(floor(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qc
         |  FROM qn GROUP BY label, d),
         |cnorms AS (SELECT label, CAST(SUM(qc * qc) AS BIGINT) AS cnsq FROM cq GROUP BY label),
         |ascore AS (
         |  SELECT q.vec_id, c.label,
         |         CAST(CAST(SUM(q.qv * c.qc) AS BIGINT) AS DOUBLE) /
         |           (sqrt(CAST(MIN(n.nsq) AS DOUBLE)) * sqrt(CAST(MIN(cn.cnsq) AS DOUBLE))) AS ccos
         |  FROM qn q JOIN cq c ON c.d = q.d
         |            JOIN norms n ON n.vec_id = q.vec_id
         |            JOIN cnorms cn ON cn.label = c.label
         |  GROUP BY q.vec_id, c.label),
         |assigned AS (
         |  SELECT vec_id, label FROM (
         |    SELECT vec_id, label,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, label) AS rn
         |    FROM ascore) t WHERE rn = 1),
         |$pstrideCte,
         |probeclusters AS (
         |  SELECT vec_id AS probe_id, label FROM (
         |    SELECT vec_id, label,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, label) AS rn
         |    FROM ascore CROSS JOIN pp WHERE vec_id % pp.pstride = 0) t WHERE rn <= $NProbe),
         |cand AS (
         |  SELECT p.probe_id, a.vec_id AS neighbor_id
         |  FROM probeclusters p JOIN assigned a ON a.label = p.label
         |  WHERE a.vec_id <> p.probe_id),
         |pdots AS (
         |  SELECT c.probe_id, c.neighbor_id, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM cand c JOIN qn qa ON qa.vec_id = c.probe_id
         |              JOIN qn qb ON qb.vec_id = c.neighbor_id AND qb.d = qa.d
         |  GROUP BY c.probe_id, c.neighbor_id),
         |scored AS (
         |  SELECT p.probe_id, p.neighbor_id,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM pdots p JOIN norms na ON na.vec_id = p.probe_id
         |               JOIN norms nb ON nb.vec_id = p.neighbor_id)
         |SELECT probe_id, neighbor_id, cos, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                               ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= $TopK""".stripMargin,
    // both paths replayed side by side: the exact chain (pp probe stride)
    // and the full sampled-IVF routing chain (params/cand), then the
    // per-probe overlap — a routing recall regression shifts n_hit and
    // fails the hash gate
    "ann_recall_report" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |${qnCte._1} AS (${qnCte._2}),
         |${normsCte._1} AS (${normsCte._2}),
         |$pstrideCte,
         |$ivfRoutingCtes,
         |edots AS (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |         CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
         |  FROM qn a JOIN qn b ON a.d = b.d AND a.vec_id <> b.vec_id
         |  CROSS JOIN pp
         |  WHERE a.vec_id % pp.pstride = 0
         |  GROUP BY a.vec_id, b.vec_id),
         |escored AS (
         |  SELECT probe_id, neighbor_id,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM edots JOIN norms na ON na.vec_id = probe_id
         |             JOIN norms nb ON nb.vec_id = neighbor_id),
         |etopk AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                                 ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM escored) t WHERE rank <= $TopK),
         |apdots AS (
         |  SELECT c.probe_id, c.neighbor_id, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM cand c JOIN qn qa ON qa.vec_id = c.probe_id
         |              JOIN qn qb ON qb.vec_id = c.neighbor_id AND qb.d = qa.d
         |  GROUP BY c.probe_id, c.neighbor_id),
         |ascored AS (
         |  SELECT p.probe_id, p.neighbor_id,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM apdots p JOIN norms na ON na.vec_id = p.probe_id
         |                JOIN norms nb ON nb.vec_id = p.neighbor_id),
         |atopk AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                                 ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM ascored) t WHERE rank <= $TopK)
         |SELECT e.probe_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hit,
         |  CAST(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |       AS DOUBLE) / COUNT(*) AS recall
         |FROM etopk e LEFT JOIN atopk a
         |  ON a.probe_id = e.probe_id AND a.neighbor_id = e.neighbor_id
         |GROUP BY e.probe_id""".stripMargin,
    "ann_ivf_sampled" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |${qnCte._1} AS (${qnCte._2}),
         |${normsCte._1} AS (${normsCte._2}),
         |$ivfRoutingCtes,
         |pdots AS (
         |  SELECT c.probe_id, c.neighbor_id, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM cand c JOIN qn qa ON qa.vec_id = c.probe_id
         |              JOIN qn qb ON qb.vec_id = c.neighbor_id AND qb.d = qa.d
         |  GROUP BY c.probe_id, c.neighbor_id),
         |scored AS (
         |  SELECT p.probe_id, p.neighbor_id,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM pdots p JOIN norms na ON na.vec_id = p.probe_id
         |               JOIN norms nb ON nb.vec_id = p.neighbor_id)
         |SELECT probe_id, neighbor_id, cos, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                               ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= $TopK""".stripMargin,
    "ann_pq_topk" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |${qnCte._1} AS (${qnCte._2}),
         |$pqCodingCtes,
         |$pstrideCte,
         |dt AS (
         |  SELECT vec_id AS probe_id, m, c, dist2
         |  FROM dist CROSS JOIN pp WHERE vec_id % pp.pstride = 0),
         |adc AS (
         |  SELECT dt.probe_id, e.neighbor_id, CAST(SUM(dt.dist2) AS BIGINT) AS adc
         |  FROM enc e JOIN dt ON dt.m = e.m AND dt.c = e.code
         |  WHERE e.neighbor_id <> dt.probe_id
         |  GROUP BY dt.probe_id, e.neighbor_id),
         |$pqRerankSql""".stripMargin,
    "ann_ivfadc_topk" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |${qnCte._1} AS (${qnCte._2}),
         |${normsCte._1} AS (${normsCte._2}),
         |$ivfRoutingCtes,
         |$pqCodingCtes,
         |dt AS (
         |  SELECT vec_id AS probe_id, m, c, dist2
         |  FROM dist CROSS JOIN params WHERE vec_id % params.pstride = 0),
         |adc AS (
         |  SELECT ca.probe_id, ca.neighbor_id, CAST(SUM(dt.dist2) AS BIGINT) AS adc
         |  FROM cand ca JOIN enc e ON e.neighbor_id = ca.neighbor_id
         |               JOIN dt ON dt.probe_id = ca.probe_id
         |                      AND dt.m = e.m AND dt.c = e.code
         |  GROUP BY ca.probe_id, ca.neighbor_id),
         |$pqRerankSql""".stripMargin,
    "ann_kmeans" -> {
      val iterCtes = (1 to KmIters).flatMap { t =>
        Seq(
          s"""dist$t AS (
             |  SELECT q.vec_id, cb.c,
             |         CAST(SUM((q.qv - cb.qc) * (q.qv - cb.qc)) AS BIGINT) AS dist2
             |  FROM qn q JOIN cb${t - 1} cb ON cb.d = q.d
             |  GROUP BY q.vec_id, cb.c)""".stripMargin,
          s"""assign$t AS (
             |  SELECT vec_id, c AS cluster FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
             |                                 ORDER BY dist2, c) AS rn
             |    FROM dist$t) t$t WHERE rn = 1)""".stripMargin,
          s"""means$t AS (
             |  SELECT a.cluster, q.d,
             |         CAST(floor(CAST(SUM(q.qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qm
             |  FROM assign$t a JOIN qn q ON q.vec_id = a.vec_id
             |  GROUP BY a.cluster, q.d)""".stripMargin,
          s"""cb$t AS (
             |  SELECT p.c, p.d, COALESCE(m.qm, p.qc) AS qc
             |  FROM cb${t - 1} p LEFT JOIN means$t m ON m.cluster = p.c AND m.d = p.d)""".stripMargin)
      }.mkString(",\n")
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |${qnCte._1} AS (${qnCte._2}),
         |seeds AS (
         |  SELECT vec_id AS sv, ROW_NUMBER() OVER (
         |    ORDER BY ${Hashing.hashHexSql("CAST(vec_id AS VARCHAR)")}, vec_id) - 1 AS c
         |  FROM corpus
         |  ORDER BY ${Hashing.hashHexSql("CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT $KmK),
         |cb0 AS (
         |  SELECT s.c, q.d, q.qv AS qc
         |  FROM seeds s JOIN qn q ON q.vec_id = s.sv),
         |$iterCtes,
         |distf AS (
         |  SELECT q.vec_id, cb.c,
         |         CAST(SUM((q.qv - cb.qc) * (q.qv - cb.qc)) AS BIGINT) AS dist2
         |  FROM qn q JOIN cb$KmIters cb ON cb.d = q.d
         |  GROUP BY q.vec_id, cb.c),
         |af AS (
         |  SELECT vec_id, c AS cluster, dist2 FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |                                 ORDER BY dist2, c) AS rn
         |    FROM distf) tf WHERE rn = 1)
         |SELECT cluster, COUNT(*) AS n_members, CAST(SUM(dist2) AS BIGINT) AS wcss
         |FROM af GROUP BY cluster""".stripMargin
    },
    "ann_hybrid_rrf" ->
      s"""WITH hd AS (
         |  SELECT d.doc_id AS id, d.text, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         |corpus AS (SELECT id AS vec_id, embedding FROM hd),
         |${qnCte._1} AS (${qnCte._2}),
         |${normsCte._1} AS (${normsCte._2}),
         |tok AS (
         |  SELECT DISTINCT id, unnest(${Hashing.tokensSql("text")}) AS token FROM hd),
         |dfc AS (
         |  SELECT token FROM (SELECT token, COUNT(*) AS df FROM tok GROUP BY token) t
         |  WHERE df BETWEEN 2 AND 50),
         |idx AS (SELECT t.id, t.token FROM tok t JOIN dfc USING (token)),
         |$pstrideCte,
         |tcand AS (
         |  SELECT a.id AS probe_id, b.id AS neighbor_id, COUNT(*) AS n_shared
         |  FROM idx a JOIN idx b ON b.token = a.token AND b.id <> a.id
         |  CROSS JOIN pp
         |  WHERE a.id % pp.pstride = 0
         |  GROUP BY a.id, b.id),
         |trank AS (
         |  SELECT probe_id, neighbor_id, trk FROM (
         |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY n_shared DESC, neighbor_id) AS BIGINT) AS trk
         |    FROM tcand) t WHERE trk <= 20),
         |dots AS (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |         CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
         |  FROM qn a JOIN qn b ON a.d = b.d AND a.vec_id <> b.vec_id
         |  CROSS JOIN pp
         |  WHERE a.vec_id % pp.pstride = 0
         |  GROUP BY a.vec_id, b.vec_id),
         |vscored AS (
         |  SELECT probe_id, neighbor_id,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM dots JOIN norms na ON na.vec_id = probe_id
         |            JOIN norms nb ON nb.vec_id = neighbor_id),
         |vrank AS (
         |  SELECT probe_id, neighbor_id, vrk FROM (
         |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS vrk
         |    FROM vscored) t WHERE vrk <= 20),
         |fused AS (
         |  SELECT probe_id, neighbor_id,
         |         t.trk AS text_rank, v.vrk AS vec_rank,
         |         COALESCE(CAST(1.0 AS DOUBLE) / (t.trk + 60), CAST(0.0 AS DOUBLE)) +
         |           COALESCE(CAST(1.0 AS DOUBLE) / (v.vrk + 60), CAST(0.0 AS DOUBLE)) AS rrf
         |  FROM trank t FULL JOIN vrank v USING (probe_id, neighbor_id))
         |SELECT probe_id, neighbor_id, text_rank, vec_rank, rrf, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
         |    ORDER BY rrf DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM fused) t WHERE rank <= $TopK""".stripMargin,
    "ann_hybrid_indexed" ->
      s"""WITH hd AS (
         |  SELECT d.doc_id AS id, d.text, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         |corpus AS (SELECT id AS vec_id, embedding FROM hd),
         |${qnCte._1} AS (${qnCte._2}),
         |${normsCte._1} AS (${normsCte._2}),
         |$ivfRoutingCtes,
         |vdots AS (
         |  SELECT ca.probe_id, ca.neighbor_id, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM cand ca JOIN qn qa ON qa.vec_id = ca.probe_id
         |               JOIN qn qb ON qb.vec_id = ca.neighbor_id AND qb.d = qa.d
         |  GROUP BY ca.probe_id, ca.neighbor_id),
         |vscored AS (
         |  SELECT v.probe_id, v.neighbor_id,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM vdots v JOIN norms na ON na.vec_id = v.probe_id
         |               JOIN norms nb ON nb.vec_id = v.neighbor_id),
         |vrank AS (
         |  SELECT probe_id, neighbor_id, vrk FROM (
         |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS vrk
         |    FROM vscored) t WHERE vrk <= 20),
         |tok AS (
         |  SELECT DISTINCT id, unnest(${Hashing.tokensSql("text")}) AS token FROM hd),
         |dfc AS (
         |  SELECT token FROM (SELECT token, COUNT(*) AS df FROM tok GROUP BY token) t
         |  WHERE df BETWEEN 2 AND 50),
         |idx AS (SELECT t.id, t.token FROM tok t JOIN dfc USING (token)),
         |tcand AS (
         |  SELECT a.id AS probe_id, b.id AS neighbor_id, COUNT(*) AS n_shared
         |  FROM idx a JOIN idx b ON b.token = a.token AND b.id <> a.id
         |  CROSS JOIN params
         |  WHERE a.id % params.pstride = 0
         |  GROUP BY a.id, b.id),
         |trank AS (
         |  SELECT probe_id, neighbor_id, trk FROM (
         |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY n_shared DESC, neighbor_id) AS BIGINT) AS trk
         |    FROM tcand) t WHERE trk <= 20),
         |fused AS (
         |  SELECT probe_id, neighbor_id,
         |         t.trk AS text_rank, v.vrk AS vec_rank,
         |         COALESCE(CAST(1.0 AS DOUBLE) / (t.trk + 60), CAST(0.0 AS DOUBLE)) +
         |           COALESCE(CAST(1.0 AS DOUBLE) / (v.vrk + 60), CAST(0.0 AS DOUBLE)) AS rrf
         |  FROM trank t FULL JOIN vrank v USING (probe_id, neighbor_id))
         |SELECT probe_id, neighbor_id, text_rank, vec_rank, rrf, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
         |    ORDER BY rrf DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM fused) t WHERE rank <= $TopK""".stripMargin,
    "ann_lsh_near_dup" ->
      s"""WITH corpus AS (
         |$vecCorpusSql
         |),
         |${qnCte._1} AS (${qnCte._2}),
         |${normsCte._1} AS (${normsCte._2}),
         |planes AS (
         |  SELECT p, d, CASE WHEN ${Hashing.hash64Sql("'plane:' || p || ':' || d")} % 2 = 1
         |               THEN 1 ELSE -1 END AS s
         |  FROM range(0, $NumPlanes) rp(p), range(0, $Dim) rd(d)),
         |psums AS (
         |  SELECT qn.vec_id, planes.p, CAST(SUM(planes.s * qn.qv) AS BIGINT) AS psum
         |  FROM qn JOIN planes ON planes.d = qn.d
         |  GROUP BY qn.vec_id, planes.p),
         |sigs AS (
         |  SELECT vec_id, CAST(SUM(CASE WHEN psum > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig
         |  FROM psums GROUP BY vec_id),
         |cand AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id),
         |pdots AS (
         |  SELECT c.vec_a, c.vec_b, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM cand c JOIN qn qa ON qa.vec_id = c.vec_a
         |              JOIN qn qb ON qb.vec_id = c.vec_b AND qb.d = qa.d
         |  GROUP BY c.vec_a, c.vec_b)
         |SELECT vec_a, vec_b, cos FROM (
         |  SELECT p.vec_a, p.vec_b,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM pdots p JOIN norms na ON na.vec_id = p.vec_a
         |               JOIN norms nb ON nb.vec_id = p.vec_b) t
         |WHERE cos >= 0.95""".stripMargin,
    // Semantic drift replayed: the same deterministic after-arm mutation,
    // both component frames quantized identically, one full-outer join on
    // (vec_id, d) whose keyed aggregation yields presence, equality, dot
    // and both norms at once — exactly [[semanticDrift]]'s fused pass.
    "diff_semantic_drift" -> semanticDriftSql(
      "WHERE nb = 0 OR na = 0 OR maxdiff > 0 OR nb <> na"),
    // The streaming consumer twin scores ARRIVING rows only — DELETED
    // keys never arrive on a tombstone-less feed, so its oracle is the
    // batch chain minus the DELETED branch; every surviving row is
    // bit-identical to the batch (same quantized integers, same doubles).
    "stream_semantic_drift" -> semanticDriftSql(
      "WHERE (nb = 0 OR maxdiff > 0 OR nb <> na) AND na > 0"),
  )

  private def semanticDriftSql(finalWhere: String): String =
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |aft AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 17 = 5 THEN
         |                list_transform(range(1, ${Dim + 1}),
         |                  i -> CAST(embedding[((i + ${DriftRot - 1}) % $Dim) + 1] AS DOUBLE))
         |              WHEN vec_id % 17 = 11 THEN
         |                list_transform(embedding,
         |                  v -> CAST(v AS DOUBLE) * CAST(1.01 AS DOUBLE))
         |              ELSE list_transform(embedding, v -> CAST(v AS DOUBLE))
         |         END AS embedding
         |  FROM corpus WHERE vec_id % 17 <> 2
         |  UNION ALL
         |  SELECT vec_id + $DriftInsertBand AS vec_id,
         |         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS embedding
         |  FROM corpus WHERE vec_id % 17 = 8),
         |bq AS (
         |  SELECT vec_id, i - 1 AS d, $qv AS qv
         |  FROM corpus, range(1, ${Dim + 1}) r(i)),
         |aq AS (
         |  SELECT vec_id, i - 1 AS d, $qv AS qv
         |  FROM aft, range(1, ${Dim + 1}) r(i)),
         |j AS (
         |  SELECT COALESCE(b.vec_id, a.vec_id) AS vec_id, b.qv AS bqv, a.qv AS aqv
         |  FROM bq b FULL JOIN aq a ON a.vec_id = b.vec_id AND a.d = b.d),
         |g AS (
         |  SELECT vec_id, COUNT(bqv) AS nb, COUNT(aqv) AS na,
         |         CAST(SUM(bqv * aqv) AS BIGINT) AS dot,
         |         CAST(SUM(bqv * bqv) AS BIGINT) AS bn,
         |         CAST(SUM(aqv * aqv) AS BIGINT) AS an,
         |         MAX(ABS(bqv - aqv)) AS maxdiff
         |  FROM j GROUP BY vec_id)
         |SELECT vec_id,
         |       CASE WHEN nb = 0 THEN 'INSERTED'
         |            WHEN na = 0 THEN 'DELETED'
         |            ELSE 'UPDATED' END AS status,
         |       CASE WHEN nb > 0 AND na > 0 THEN
         |         CAST(dot AS DOUBLE) /
         |           (sqrt(CAST(bn AS DOUBLE)) * sqrt(CAST(an AS DOUBLE)))
         |       END AS cos,
         |       CASE WHEN nb > 0 AND na > 0 THEN
         |         CASE WHEN CAST(dot AS DOUBLE) /
         |                (sqrt(CAST(bn AS DOUBLE)) * sqrt(CAST(an AS DOUBLE)))
         |              < $DriftTau THEN 'semantic' ELSE 'cosmetic' END
         |       END AS drift
         |FROM g $finalWhere""".stripMargin

  // lazy: declared after `oracleSql` textually; the forward reference
  // during object init forces it safely
  private lazy val oracleSqlTail: Map[String, String] = Map(
    // SemDeDup: the sampled-codebook routing CTEs give the clustering;
    // pairwise cosine is scored ONLY within a cluster, then each dropped
    // vector reports its min-id keeper and strongest similarity — exactly
    // [[semanticDupes]]'s plan replayed relationally.
    "dedup_semantic" ->
      s"""WITH corpus AS (
         |$vecCorpusSql
         |),
         |${qnCte._1} AS (${qnCte._2}),
         |${normsCte._1} AS (${normsCte._2}),
         |$ivfRoutingCtes,
         |pairsem AS (
         |  SELECT a.c AS cluster, a.neighbor_id AS vec_a, b.neighbor_id AS vec_b
         |  FROM assigned a JOIN assigned b
         |    ON b.c = a.c AND b.neighbor_id > a.neighbor_id),
         |pdotsem AS (
         |  SELECT p.cluster, p.vec_a, p.vec_b, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
         |  FROM pairsem p JOIN qn qa ON qa.vec_id = p.vec_a
         |                 JOIN qn qb ON qb.vec_id = p.vec_b AND qb.d = qa.d
         |  GROUP BY p.cluster, p.vec_a, p.vec_b),
         |scoredsem AS (
         |  SELECT cluster, vec_a, vec_b,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
         |  FROM pdotsem JOIN norms na ON na.vec_id = vec_a
         |               JOIN norms nb ON nb.vec_id = vec_b)
         |SELECT vec_b AS vec_id, cluster, MIN(vec_a) AS keeper_id, MAX(cos) AS max_cos
         |FROM scoredsem WHERE cos >= $SemTau
         |GROUP BY vec_b, cluster""".stripMargin
  )
}
