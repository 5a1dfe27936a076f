package graft.operators

import graft.CacheScope
import graft.functions.Hashing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-data preparation pipeline, composed from the
  * engine's own operators in one declarative plan: tokenize → content
  * fingerprint → exact-dedup (canonical survivor per fingerprint) →
  * quality gate (minimum token count) → cleaned corpus with provenance
  * (how many copies each survivor represents).
  *
  * The point is compositionality: each stage is the same expression the
  * standalone operators use (`Hashing.tokens`, `dedup_exact`'s md5-keyed
  * window), and Catalyst fuses all of it into scan → project → ONE window
  * shuffle on the 32-byte fingerprint → filter. At 100 TB this whole
  * cleaning pass is a single shuffle of the corpus.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  val MinTokens = 5

  /** Fuzzy-decontamination knobs: the planted paraphrase replaces every
    * [[FuzzyParaEvery]]-th token (runs of 7 unmutated tokens — no 8-gram
    * survives, so the exact pass is blind to it) and the verify keeps
    * pairs at shingle-Jaccard ≥ [[FuzzyTau]] (the paraphrase lands at
    * ≈ 0.45: each replaced token kills ≤ 3 of its 3-shingles). */
  val FuzzyParaEvery = 8
  val FuzzyTau = 0.3

  /** Per-domain quota knobs for `pipeline_domain_caps`: every source is
    * capped at max(floor, corpus_total/div) documents — div = 32 puts the
    * cap at ~3% of the corpus, below the uniform per-source share of the
    * fixture's 20 sources, so trimming engages at every SF. */
  val DomainCapFloor = 10L
  val DomainCapDiv = 32L

  /** Recall-oriented LSH banding for decontamination: 8 bands × 2 rows
    * over [[DedupQueries.minhashSigs]]' 16 lanes (dedup's 4 × 4 trades
    * recall for fewer candidates — the right trade for dedup, the wrong
    * one when a miss poisons an eval set). Same (doc_id, band, bkey)
    * interface as [[DedupQueries.bands]]. */
  private def recallBands(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until DedupQueries.NumHashes / 2).map { b =>
      val key = concat_ws("|",
        col(s"m${2 * b}").cast("string"), col(s"m${2 * b + 1}").cast("string"))
      struct(lit(b).as("band"), key.as("bkey"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("__b"))
      .select(col("doc_id"), col("__b.band").as("band"), col("__b.bkey").as("bkey"))
  }

  val queries: Map[String, Q] = Map(
    "pipeline_clean_corpus" -> ((spark, sfDir) => {
      val w = Window.partitionBy(col("__fp"))
      DedupQueries.corpus(spark, sfDir)
        .withColumn("n_tokens", size(Hashing.tokens(col("text"))).cast("long"))
        .withColumn("__fp", md5(col("text")))
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .withColumn("n_copies", count(lit(1)).over(w))
        .filter(col("doc_id") === col("canonical_id")) // dedup: canonical survives
        .filter(col("n_tokens") >= MinTokens)          // quality gate
        .select(col("doc_id"), col("n_tokens"), col("n_copies"),
          col("__fp").as("fingerprint"))
    }),
    // Deterministic train/val split: route each document by a content-free
    // hash of its id (md5-derived, engine-portable) — the standard
    // reproducible-split primitive. Pure projection + tiny aggregate; at
    // scale the split column also serves as a write partition key.
    "pipeline_train_split" -> ((spark, sfDir) =>
      graft.Tables.load(spark, sfDir, "documents")
        .withColumn("split",
          when(Hashing.hash64(col("doc_id").cast("string")) % 100 < 90, "train")
            .otherwise("val"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))),
    // Deterministic stratified sampling: fixed-size per-stratum sample,
    // ranked by a content-free hash (reservoir sampling without the
    // order-dependence — reruns, retries, and the oracle all agree). One
    // window shuffle on the stratum key.
    "pipeline_stratified_sample" -> ((spark, sfDir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("__h"), col("doc_id"))
      graft.Tables.load(spark, sfDir, "documents")
        .withColumn("__h", Hashing.hashHex(col("doc_id").cast("string")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("lang"), col("rn"))
    }),
    // Data-mixture re-weighting: every source shard gets a deterministic
    // keep-rate (its mixture weight — here hash-derived per source, in
    // production the tuned web/books/code proportions), and documents are
    // kept by the same content-free hash-threshold routing the train/val
    // split uses, so the two stages compose. Pure projection + one
    // aggregate; the report shows target vs achieved per-mille per source.
    "pipeline_source_mixture" -> ((spark, sfDir) => {
      val hs = pmod(Hashing.hash64(col("source")), lit(5L))
      val thresh = (hs + 1L) * 100L // target keep rate in per-mille
      val hd = pmod(Hashing.hash64(col("doc_id").cast("string")), lit(1000L))
      graft.Tables.load(spark, sfDir, "documents")
        .withColumn("__keep", hd < thresh)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
          max(thresh).as("target_permille"))
    }),
    // TEMPERATURE-balanced mixture (the standard LLM-pretraining
    // re-weighting): sample source s at a rate ∝ n_s^(α−1) with α = 1/2,
    // i.e. keep-rate √(n_min/n_s), so effective sizes flatten toward
    // uniform while larger sources still contribute more — normalized so
    // the smallest source keeps everything. The rate computes from ONE
    // tiny per-source count frame (broadcast back); routing is the same
    // content-free md5 per-mille threshold the split/mixture ops use, so
    // all sampling stages compose and replay identically on any cluster
    // shape. √ and the single divide run in pinned op order, so even the
    // double-typed rate is engine-exact.
    "pipeline_temperature_mix" -> ((spark, sfDir) => {
      val d = graft.Tables.load(spark, sfDir, "documents")
      val sizes = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val mn = sizes.agg(min(col("n_docs")).as("mn"))
      val withRate = sizes.crossJoin(broadcast(mn))
        .withColumn("keep_permille",
          floor(sqrt(col("mn").cast("double") / col("n_docs").cast("double"))
            * 1000.0 + 0.5).cast("long"))
        .select(col("source"), col("n_docs"), col("keep_permille"))
      val hd = pmod(Hashing.hash64(col("doc_id").cast("string")), lit(1000L))
      d.join(broadcast(withRate), Seq("source"))
        .withColumn("__keep", hd < col("keep_permille"))
        .groupBy(col("source"))
        .agg(max(col("n_docs")).as("n_docs"),
          max(col("keep_permille")).as("keep_permille"),
          sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"))
    }),
    // RefinedWeb/C4-style per-domain quota (Penedo et al. 2023 §4: cap any
    // single domain's contribution so one crawl bucket cannot dominate the
    // mixture): cap = max(CapFloor, corpus_total div CapDiv) docs per
    // source. The 100 TB-honest enforcement is hash-threshold routing,
    // NOT a per-domain rank: an exact top-cap needs a per-key sort whose
    // hottest key (a 10⁹-doc domain) lands in one task, while the
    // content-free per-mille threshold — keep iff md5(doc_id) per-mille <
    // 1000·cap/n_domain — is a stateless narrow pass fed by one tiny
    // broadcast counts frame, keeps E[n_kept] = cap with O(√cap)
    // concentration, and composes with the split/mixture stages that
    // share the same router. All threshold arithmetic is exact BIGINT
    // division; kept_id_sum pins the selected SET, not just its size.
    "pipeline_domain_caps" -> ((spark, sfDir) => {
      val d = graft.Tables.load(spark, sfDir, "documents")
      val sizes = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tot = sizes.agg(sum(col("n_docs")).as("__tot"))
      val caps = sizes.crossJoin(broadcast(tot))
        .withColumn("cap",
          greatest(lit(DomainCapFloor), expr(s"__tot div $DomainCapDiv")))
        .withColumn("keep_permille",
          least(lit(1000L), expr("(cap * 1000) div n_docs")))
        .select(col("source"), col("n_docs"), col("cap"), col("keep_permille"))
      val hd = pmod(Hashing.hash64(col("doc_id").cast("string")), lit(1000L))
      d.join(broadcast(caps), Seq("source"))
        .withColumn("__keep", hd < col("keep_permille"))
        .groupBy(col("source"))
        .agg(max(col("n_docs")).as("n_docs"), max(col("cap")).as("cap"),
          max(col("keep_permille")).as("keep_permille"),
          sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("__keep"), col("doc_id")).otherwise(0L)).as("kept_id_sum"))
    }),
    // Benchmark decontamination: flag training documents that share any
    // 8-gram with the held-out benchmark set (every original doc with
    // doc_id % 100 == 0 plays the benchmark; the dup-extended corpus
    // guarantees real collisions). Grams travel as md5 fingerprints — the
    // join key is 32 bytes, never raw text; the benchmark gram set is ~1%
    // of the corpus, broadcastable at any SF where the eval set stays
    // small relative to training data. Output = contaminated train docs
    // with how many benchmark docs they collide with.
    "pipeline_decontaminate" -> ((spark, sfDir) => {
      val grams = DedupQueries.corpus(spark, sfDir)
        .withColumn("__toks", Hashing.tokens(col("text")))
        .filter(size(col("__toks")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(__toks) - 8), " +
            "i -> concat_ws(' ', slice(__toks, i + 1, 8)))")).as("g"))
        .select(col("doc_id"), md5(col("g")).as("gfp"))
        .distinct()
        .transform(CacheScope.cached) // feeds both sides of the contamination join
      val isBench = col("doc_id") < DedupQueries.DeltaBase && col("doc_id") % 100 === 0
      val bench = grams.filter(isBench)
        .select(col("doc_id").as("bench_id"), col("gfp"))
      grams.filter(!isBench).join(broadcast(bench), "gfp")
        .select(col("doc_id"), col("bench_id")).distinct()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_benchmark_hits"))
    }),
    // FUZZY benchmark decontamination — the contamination the exact
    // 8-gram pass above cannot see: a paraphrased benchmark doc shares
    // ZERO 8-grams with its source (the planted arm replaces every
    // [[FuzzyParaEvery]]-th token, capping unmutated runs at 7) yet is
    // still the same document for eval-leakage purposes. Composition of
    // the existing banded-MinHash machinery with the benchmark set as the
    // probe side: 3-shingle MinHash signatures for the whole extended
    // corpus, candidates from an equi-join of train-side band keys
    // against the BROADCAST benchmark band table (the eval set is ~1% of
    // the corpus at any SF — never all-pairs, never a cartesian), then
    // the exact shingle-Jaccard verify at [[FuzzyTau]].
    //
    // Banding geometry is deliberately RECALL-oriented: 8 bands × 2 rows
    // from the same 16 minhash lanes (vs dedup's 4 × 4) — at the planted
    // paraphrase's Jaccard ≈ 0.45 a 2-row band hits with p ≈ J², so
    // 8 bands recover ~4/5 of paraphrased twins where 4 × 4 banding
    // would recover ~1/7. Missing contamination poisons an eval set;
    // extra candidates only cost the (bounded, broadcast-keyed) verify.
    //
    // Output is the planted-truth quality readout (exact integer counts,
    // the er_match_quality pattern): how many benchmark docs exist, how
    // many verified (train, bench) pairs were found, and how many of the
    // three planted contamination arms (+Δ exact copy, +2Δ appended-tail
    // near-copy, +3Δ paraphrase) were recovered; `n_unplanted` counts
    // verified pairs outside the planted bands — genuine textual overlap
    // in the fixture, not false positives of the method.
    "pipeline_decontaminate_fuzzy" -> ((spark, sfDir) => {
      val d = DedupQueries.DeltaBase
      val base = DedupQueries.corpus(spark, sfDir)
      val isBenchId = col("doc_id") % 100 === 0 && col("doc_id") < d
      val para = base.filter(isBenchId)
        .select(col("doc_id").as("orig_id"), Hashing.tokens(col("text")).as("__toks"))
        .select((col("orig_id") + lit(3 * d)).as("doc_id"),
          expr(s"""concat_ws(' ', transform(sequence(1, size(__toks)),
            i -> CASE WHEN i % $FuzzyParaEvery = 0
                      THEN concat('qq', CAST(orig_id % 97 AS STRING), '_',
                                  CAST(i AS STRING))
                      ELSE element_at(__toks, i) END))""").as("text"))
      val corpus = base.unionByName(para)
      // shingle hashes feed signature build AND the Jaccard verify; the
      // band frame feeds both sides of the candidate join — pin both
      // (the dedup-family shared-frame discipline)
      val sh = DedupQueries.shingleHashes(corpus).transform(CacheScope.pinned)
      val wb = recallBands(DedupQueries.minhashSigs(sh)).transform(CacheScope.pinned)
      val bench = wb.filter(isBenchId)
        .select(col("doc_id").as("doc_b"), col("band"), col("bkey"))
      val cand = wb.filter(!isBenchId)
        .select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
        .join(broadcast(bench), Seq("band", "bkey"))
        .select(col("doc_a"), col("doc_b")).distinct()
      val ver = DedupQueries.jaccard(cand, sh, FuzzyTau)
      val nb = sh.filter(isBenchId)
        .agg(countDistinct(col("doc_id")).as("n_bench"))
      val agg = ver.agg(
        count(lit(1)).as("n_detected_pairs"),
        sum(when(col("doc_a") === col("doc_b") + d, 1L).otherwise(0L))
          .as("n_exact_found"),
        sum(when(col("doc_a") === col("doc_b") + 2 * d, 1L).otherwise(0L))
          .as("n_near_found"),
        sum(when(col("doc_a") === col("doc_b") + 3 * d, 1L).otherwise(0L))
          .as("n_para_found"),
        sum(when(col("doc_a") =!= col("doc_b") + d &&
                 col("doc_a") =!= col("doc_b") + 2 * d &&
                 col("doc_a") =!= col("doc_b") + 3 * d, 1L).otherwise(0L))
          .as("n_unplanted"))
      broadcast(nb).crossJoin(agg) // 1 × 1 summary row
    }),
    // Quality-weighted importance sampling: each document's keep-probability
    // is proportional to its own quality signal (here a length-derived
    // per-mille weight, clamped to [100, 900]; in production the quality
    // classifier's score), and the keep decision is the same deterministic
    // content-free hash-threshold the other sampling stages use — exact
    // integer arithmetic end to end, so reruns, stragglers, and the oracle
    // agree row for row. Pure projection + one aggregate, no shuffle of
    // document payloads.
    "pipeline_weighted_sample" -> ((spark, sfDir) => {
      val w = least(lit(900L), greatest(lit(100L), expr("n_chars div 2")))
      val hd = pmod(Hashing.hash64(col("doc_id").cast("string")), lit(1000L))
      graft.Tables.load(spark, sfDir, "documents")
        .withColumn("__w", w).withColumn("__keep", hd < col("__w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("__w")).as("sum_weight_permille"))
    }),
    // FIXED-SIZE weighted sampling without replacement (priority sampling,
    // Duffield–Lund–Thorup): each doc draws priority = hash/weight — the
    // cross-ratio computed as an exact integer (40-bit md5 hash × 1e6,
    // floor-divided by the weight), so heavier docs draw systematically
    // smaller priorities — and the k SMALLEST priorities per stratum win.
    // This is the primitive the Bernoulli keep-rate stage above cannot
    // express: the output size is exactly k per stratum regardless of the
    // weight distribution. Deterministic (reruns/stragglers/oracle agree),
    // one window shuffle on the stratum key, WindowGroupLimit prunes to
    // O(k) rows per stratum before anything wide moves.
    "pipeline_priority_sample" -> ((spark, sfDir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("priority"), col("doc_id"))
      graft.Tables.load(spark, sfDir, "documents")
        .withColumn("weight", least(lit(900L), greatest(lit(100L), expr("n_chars div 2"))))
        .withColumn("__h40",
          expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)),1,10),16,10) AS BIGINT)"))
        .withColumn("priority", expr("(__h40 * 1000000) DIV weight"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= PrioritySampleK)
        .select(col("lang"), col("doc_id"), col("weight"), col("priority"), col("rn"))
    }),
    // Sequence packing (concat-then-chunk): assign each document's first
    // token to a fixed 2048-token training sequence by a running token
    // count WITHIN each source shard — packing is per-shard, so no global
    // sort exists anywhere in the plan; a 1000-executor job packs every
    // shard independently after one shuffle on the shard key. A document
    // whose tokens straddle a boundary spans two sequences (standard
    // concat-then-chunk semantics); seq_offset is where it starts.
    "pipeline_pack_sequences" -> ((spark, sfDir) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      graft.Tables.load(spark, sfDir, "documents")
        .withColumn("n_tokens", size(Hashing.tokens(col("text"))).cast("long"))
        .withColumn("__cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr(s"(__cum - n_tokens) div $SeqLen").as("seq_id"),
          ((col("__cum") - col("n_tokens")) % SeqLen).as("seq_offset"))
    }),
    // Length-bucketed batch assembly: the padding-efficiency counterpart
    // of pack_sequences — documents stay intact (no concat-then-chunk),
    // grouped into fixed-capacity batches of similar length so the padding
    // waste per batch is bounded by its bucket's width. Widths are a fixed
    // power-of-two CASE ladder (32..2048, truncation at the context
    // length) — exact integers, no float log2. Batch assembly is a
    // row_number per (source, width): per-shard-per-bucket independent, so
    // a 1000-executor job assembles every shard's buckets after ONE
    // shuffle and no global sort exists anywhere. Output is the per-batch
    // manifest with integer padded/waste accounting — the number a
    // training job's throughput model consumes.
    "pipeline_length_buckets" -> ((spark, sfDir) => {
      val w = Window.partitionBy(col("source"), col("width")).orderBy(col("doc_id"))
      graft.Tables.load(spark, sfDir, "documents")
        .withColumn("n_tokens", size(Hashing.tokens(col("text"))).cast("long"))
        .withColumn("width",
          when(col("n_tokens") <= 32, 32L).when(col("n_tokens") <= 64, 64L)
            .when(col("n_tokens") <= 128, 128L).when(col("n_tokens") <= 256, 256L)
            .when(col("n_tokens") <= 512, 512L).when(col("n_tokens") <= 1024, 1024L)
            .otherwise(lit(SeqLen.toLong)))
        .withColumn("fill", least(col("n_tokens"), col("width")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("batch_id", expr(s"(rn - 1) div ($BatchTokenBudget div width)"))
        .groupBy(col("source"), col("width"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("fill")).as("sum_tokens"))
        .withColumn("padded_tokens", col("n_docs") * col("width"))
        .withColumn("waste_tokens", col("padded_tokens") - col("sum_tokens"))
    }),
    // Epoch shuffle: the per-epoch reordering of training data, with NO
    // global sort anywhere — each doc hashes (with the epoch number salted
    // in) to one of 64 shards, and its position within the shard is a
    // rank over the shard's own rows only. Different epochs produce
    // different, deterministic permutations (reruns and stragglers agree);
    // a 1000-executor job orders every shard independently after one
    // shuffle on the shard key. The hash is content-free (doc_id only), so
    // the permutation never correlates with document content or length.
    "pipeline_epoch_shuffle" -> ((spark, sfDir) => {
      val epoch = 3 // fixed for the oracle; the app would parameterize
      val h = Hashing.hash64(concat(lit(s"ep$epoch:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("shard")).orderBy(col("order_key"), col("doc_id"))
      graft.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), h.as("order_key"))
        .withColumn("shard", (col("order_key") % 64).cast("long"))
        .withColumn("pos_in_shard", row_number().over(w).cast("long"))
    }),
    // UniMax language sampling (Chung et al., "UniMax: Fairer and More
    // Effective Language Sampling for Large-Scale Multilingual
    // Pretraining", ICLR 2023): allocate a total token budget across
    // languages so every language gets an EQUAL share, except that no
    // language is repeated past [[UniMaxEpochCap]] epochs — the published
    // fix for temperature sampling's head-overweighting. The sequential
    // waterfilling recurrence has a closed relational form because
    // demands sorted ascending make the capped set a PREFIX: rank
    // languages by token count, running-sum their capped demands, find
    // the largest prefix k where each demand fits under the
    // running-remaining fair share, and give everyone after k the equal
    // split of what the capped prefix left. One corpus-sized pass (the
    // per-language token count); everything after runs on the
    // #languages-row frame — window over a single tiny partition, the
    // same control-plane economics as the catalog queries. Integer token
    // arithmetic throughout; the only double is the final epochs ratio.
    "pipeline_unimax_mix" -> ((spark, sfDir) => {
      val toks = CacheScope.pinned(graft.Tables.load(spark, sfDir, "documents")
        .select(col("lang"), size(Hashing.tokens(col("text"))).cast("long").as("tk"))
        .groupBy(col("lang")).agg(sum(col("tk")).as("n_tokens")))
      val tot = toks.agg(sum(col("n_tokens")).as("tot"),
        count(lit(1)).as("nlang"))
      val w = Window.orderBy(col("n_tokens"), col("lang"))
      val flags = toks.crossJoin(broadcast(tot))
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("pfx", sum(col("n_tokens") * UniMaxEpochCap).over(w))
        .withColumn("budget", col("tot") * UniMaxBudgetEpochs)
        .withColumn("capped", col("n_tokens") * UniMaxEpochCap
          * (col("nlang") - col("i")) <= col("budget") - col("pfx"))
        .withColumn("bad", sum(when(col("capped"), 0L).otherwise(1L)).over(w))
      val isPrefix = col("capped") && col("bad") === 0L
      val ks = broadcast(flags.agg(
        coalesce(max(when(isPrefix, col("i"))), lit(0L)).as("k"),
        coalesce(max(when(isPrefix, col("pfx"))), lit(0L)).as("pfxk")))
      flags.crossJoin(ks)
        .withColumn("alloc_tokens",
          when(col("i") <= col("k"), col("n_tokens") * UniMaxEpochCap)
            .otherwise(expr("(budget - pfxk) div (nlang - k)")))
        .withColumn("epochs",
          col("alloc_tokens").cast("double") / col("n_tokens").cast("double"))
        .select(col("lang"), col("n_tokens"), col("alloc_tokens"), col("epochs"))
    }),
    // DSIR-style importance selection (Xie et al., "Data Selection for
    // Language Models via Importance Resampling", NeurIPS 2023): score
    // every raw document by how much its hashed-n-gram profile looks like
    // a trusted target domain, then keep the top slice. The published
    // estimator weights each n-gram bucket by log(p_target/p_raw); here the
    // per-bucket weight is the INTEGER-scaled smoothed ratio
    // ((tgt+1)·10^6 div (raw+1)) — monotone in the same likelihood ratio
    // but exact in 64-bit integers, so the score survives any partitioning
    // / aggregation order bit-for-bit (the [[Hashing]] discipline: one IEEE
    // division at the very end, everything before it integer). Plan shape:
    // one explode+groupBy pass builds per-doc bucket counts; the bucket
    // weight table is ≤ [[DsirBuckets]] rows → broadcast; the final top-k
    // is sort+limit (TakeOrderedAndProject — per-partition partial top-k,
    // no global sort). At 100 TB: one corpus shuffle, a 4096-row broadcast,
    // and a k-row result.
    "pipeline_dsir_select" -> ((spark, sfDir) => {
      val grams = graft.Tables.load(spark, sfDir, "documents")
        .withColumn("__toks", Hashing.tokens(col("text")))
        .filter(size(col("__toks")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(0, size(__toks) - 2), " +
            "i -> concat_ws(' ', __toks[i], __toks[i+1]))")).as("bg"))
        .withColumn("bucket", Hashing.hash64(col("bg")) % DsirBuckets)
        .transform(CacheScope.cached) // feeds raw, target AND per-doc counts
      val raw = grams.groupBy(col("bucket")).agg(count(lit(1)).as("rc"))
      val tgt = grams.filter(col("source").isin(DsirTargetSources: _*))
        .groupBy(col("bucket")).agg(count(lit(1)).as("tc"))
      val ratio = raw.join(tgt, Seq("bucket"), "left")
        .select(col("bucket"), expr(
          s"(coalesce(tc, 0L) + 1L) * $DsirScale div (rc + 1L)").as("ratio"))
      grams.groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("cnt"))
        .join(broadcast(ratio), "bucket")
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt") * col("ratio")).as("__num"),
          sum(col("cnt")).as("n_bigrams"))
        .withColumn("__avg", expr("__num div n_bigrams"))
        .orderBy(col("__avg").desc, col("doc_id"))
        .limit(DsirK)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("__avg").desc, col("doc_id")))
            .cast("long"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("__avg").cast("double") / DsirScale.toDouble).as("score"),
          col("rank"))
    }),
    // TRAINED quality classifier — the FineWeb-Edu / CCNet-style
    // classifier-filter stage (Penedo et al. 2024; Wenzek et al. 2020):
    // distill an expensive labeling rule into a cheap linear scorer that
    // then annotates the corpus at scan speed. Teacher labels come from
    // the Gopher rule cascade (keep=+1 / drop=-1 — in production this is
    // the LLM-graded sample); the student is a linear model over hashed
    // unigram features ([[QcFeatures]] buckets + bias), trained by
    // [[QcRounds]] UNROLLED batch-perceptron rounds in exact integer
    // arithmetic — w_j += Σ_{y·s≤0} y·x_j per round, no learning-rate
    // float, no sigmoid — so DuckDB replays the whole trainer as CTEs and
    // the fitted weights are hash-checked, the k-means/PageRank/DoReMi
    // oracle discipline. Scale shape: ONE explode+groupBy pass builds the
    // per-(doc, bucket) counts (pinned; K passes reuse it), every round's
    // scoring joins the F+1-row weight table BROADCAST, and the apply
    // stage is that same broadcast dot-product projection — at 100 TB the
    // marginal cost of scoring is a projection over the corpus. Output:
    // the per-source confusion of student vs teacher (the
    // planted-truth-readout shape the ER family uses).
    "pipeline_quality_classifier" -> ((spark, sfDir) => {
      val (feat, w) = qcFit(spark, sfDir)
      qcConfusion(qcScores(feat, w)
        .join(graft.Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"),
          when(col("s") > 0L, 1L).otherwise(-1L).as("pred"), col("y")))
    }),
    // CALIBRATION readout for the trained classifier: a curation pipeline
    // doesn't consume the raw perceptron score directly — it picks a
    // THRESHOLD, and the threshold is only pickable if score order tracks
    // teacher agreement. This emits the score-decile calibration table:
    // docs ranked by (score, doc_id), cut into 10 exact-rank deciles, one
    // row per decile with exact integer counts (teacher-keep, pred-keep,
    // agreement) — oracle-replayable like the trainer itself, monotone on
    // the planted fixture (spec-pinned). Scale shape: decile assignment
    // avoids a corpus-wide single-partition window — per-score counts
    // (shuffle by s), a cumulative window over the DISTINCT-score frame
    // (bounded by the score range, far below n), and an intra-score
    // row_number partitioned by s; rank = c_lt(s) + rn.
    "pipeline_classifier_calibration" -> ((spark, sfDir) => {
      val (feat, w) = qcFit(spark, sfDir)
      // consumed by the total count, the score histogram and the ranked
      // join — pin (the shared-frame discipline)
      val scored = qcScores(feat, w).transform(CacheScope.pinned)
      val nFrame = scored.agg(count(lit(1)).as("__n"))
      val scnt = scored.groupBy(col("s")).agg(count(lit(1)).as("cnt"))
      val wCum = Window.orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val clt = scnt
        .withColumn("c_lt", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
        .select(col("s"), col("c_lt"))
      val wIn = Window.partitionBy(col("s")).orderBy(col("doc_id"))
      val ranked = scored.join(clt, "s")
        .withColumn("r", col("c_lt") + row_number().over(wIn))
      ranked.crossJoin(broadcast(nFrame))
        .withColumn("decile", expr("(r - 1) * 10 div __n + 1").cast("long"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("s")).as("min_score"), max(col("s")).as("max_score"),
          sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_teacher_keep"),
          sum(when(col("s") > 0L, 1L).otherwise(0L)).as("n_pred_keep"),
          sum(when((col("s") > 0L) === (col("y") === 1L), 1L).otherwise(0L))
            .as("n_agree"))
        .withColumn("teacher_keep_ppm",
          expr("n_teacher_keep * 1000000 div n_docs"))
    }),
    // Gopher/RedPajama-style quality-rule CASCADE (Rae et al. 2021,
    // appendix A1; Together 2023): the ordered keep/drop decision list a
    // curation pipeline writes before training. Each rule is one of the
    // engine's standalone signals (token count, mean word length band,
    // duplicate-5-gram fraction, stopword floor), recomputed here as
    // INTEGER comparisons (`10·dup > 3·grams` instead of a double ratio) so
    // the verdict is exact under any evaluation order; `reason` is the
    // FIRST failing rule, the attribution a funnel report aggregates. One
    // projection pass, no shuffle — at 100 TB this annotates the corpus at
    // scan speed.
    "pipeline_filter_cascade" -> ((spark, sfDir) =>
      cascadeDecisions(spark, sfDir, CascadeRepX10, CascadeStopDen)),
    // The dbdiff flagship pointed at the curation layer itself: diff the
    // keep/drop MANIFESTS of two cascade policy versions (v2 tightens the
    // repetition and stopword thresholds), keyed on doc_id — exactly the
    // audit a 100 TB pipeline runs before promoting a new filter config
    // ("which documents flip, and why"). Same 5-state full-outer diff as
    // every snapshot diff; both manifests are in-engine derived tables, so
    // the whole audit is one plan: two scan→project arms into one __key
    // shuffle.
    "pipeline_manifest_diff" -> ((spark, sfDir) => {
      // the token/5-gram signal extraction is the expensive pass and is
      // POLICY-INDEPENDENT — compute it once, pin it, and derive both
      // policy verdicts as cheap projections over the shared frame
      val signals = CacheScope.pinned(cascadeSignals(spark, sfDir))
      def manifest(repX10: Long, stopDen: Long) =
        withVerdict(signals, repX10, stopDen)
          .select(col("doc_id"), col("keep"), col("reason"))
      SnapshotDiff.diff(
        manifest(CascadeRepX10, CascadeStopDen),
        manifest(CascadeRepX10V2, CascadeStopDenV2), Seq("doc_id"))
    }),
    // The cascade run as a REAL structured stream (file source → stateless
    // verdict → parquet sink), folded to the per-reason curation funnel —
    // hash-checked against the batch oracle because stateless projection
    // semantics are identical under streaming. See
    // [[graft.streaming.StreamingCuration]].
    "stream_cascade_funnel" -> ((spark, sfDir) =>
      graft.streaming.StreamingCuration.runCascadeFunnelOnce(spark, sfDir)),
    // The trained classifier DEPLOYED as a structured stream: offline
    // batch training, fitted integer weights shipped into a stateless
    // per-row scoring projection (literal array — no join, no state),
    // decisions to a parquet sink, per-source confusion folded in batch.
    // Registered under the BATCH query's oracle — stream == batch
    // bit-for-bit because integer adds commute. See
    // [[graft.streaming.StreamingClassifier]].
    "stream_quality_classifier" -> ((spark, sfDir) =>
      graft.streaming.StreamingClassifier.runClassifierOnce(spark, sfDir)),
    // DoReMi-style domain reweighting (Xie et al., "DoReMi: Optimizing Data
    // Mixtures Speeds Up Language Model Pretraining", NeurIPS 2023): the
    // iterative exponentiated-gradient loop that turns per-domain excess
    // loss into the mixture weights a pretraining run samples by. The
    // published proxy-model loss is stood in for by a REAL corpus statistic
    // with the same shape — each source's inverse mean bigram frequency
    // (rare-bigram-heavy sources are "harder", exactly the axis CCNet's
    // perplexity measures) — computed as the exact integer
    // n_occ·10^6 div Σfreq. Per round: excess = loss − weighted-mixture
    // mean (the feedback that makes the loop a real fixed-point iteration,
    // not a one-shot rank), multiplicative update
    // w·(EgBase + η·excess) div EgBase (the linearized EG step — no
    // transcendental exp to drift in the last ulp), then ppm
    // renormalization. The only corpus-sized work is the ONE bigram pass
    // that also powers text_lm_fluency; all [[DoremiRounds]] rounds run on
    // the ≤#sources-row frame — the same control-plane trainer economics as
    // k-means/PageRank/BPE, and at 100 TB the loop costs nothing beyond
    // the single corpus scan. The DuckDB oracle replays every round as
    // unrolled CTEs, so the iterative trainer is hash-checked end to end.
    "pipeline_doremi_weights" -> ((spark, sfDir) =>
      doremiWeightFrame(spark, sfDir)
        .select(col("source"), col("n_occ"), col("loss").as("loss_scaled"),
          col("w").as("weight_ppm"))),
    // END-TO-END CURATION CAPSTONE — the whole training-data funnel as ONE
    // oracle-checked query, composing three verified stages the way a real
    // pretraining pipeline chains them:
    //   1. quality cascade (Gopher-rule first-failure verdicts) keeps docs;
    //   2. near-dup survivorship (simhash banding → connected components)
    //      keeps only each cluster's canonical doc;
    //   3. DoReMi mixture weights retarget the surviving natural source
    //      shares by deterministic rejection sampling: accept ratio
    //      α_s ∝ weight_s / share_s, normalized so the largest ratio
    //      accepts everything (the standard resample-to-target-mixture
    //      construction), routed by content-free md5(doc_id) — the same
    //      routing every sampling operator here uses, so the decision
    //      composes with epoch shuffling and sharding unchanged.
    // Per source: funnel counts (input → kept), natural share vs target
    // weight (ppm), the accept rate, and the sampled doc/token yield.
    // Scale shape: the cascade is a projection, survivorship is the
    // banded-candidate component pass, DoReMi is one bigram scan + a
    // control-plane loop, sampling is a hash predicate — nothing here
    // adds a stage the pieces didn't already pay for, and every join off
    // the corpus is against a ≤#sources-row broadcast frame.
    // Per-source corpus datasheet (the "data card" table every curation
    // run publishes): document/token counts, quality-gate pass count
    // (text_quality's three gates as exact integer cross-multiplications:
    // 0.02 = 1/50, 0.1 = 1/10, 0.2·400 = 80 chars), exact-dup count
    // (non-canonical docs under the md5 fingerprint, pipeline_clean_corpus
    // semantics), English-detection count (text_langid's precedence
    // argmax), and mean tokens. One narrow per-row pass + one md5-keyed
    // window + one groupBy(source) — the whole datasheet is two shuffles
    // at any corpus size, and every signal is the SAME expression the
    // standalone operator uses, so the report cannot drift from the ops
    // it summarizes.
    "pipeline_corpus_report" -> ((spark, sfDir) => {
      val w = Window.partitionBy(col("__fp"))
      val d = graft.Tables.load(spark, sfDir, "documents")
        .withColumn("__toks", Hashing.tokens(col("text")))
      val scored = TextQueries.LangMarkers.foldLeft(d) { case (df, (lang, words)) =>
        df.withColumn(s"__s_$lang", TextQueries.markerHits(col("__toks"), words))
      }
      val langs = TextQueries.LangMarkers.map(_._1)
      val enBest = col("__s_en") > 0 &&
        langs.filter(_ != "en").map(o => col("__s_en") >= col(s"__s_$o")).reduce(_ && _)
      scored
        .withColumn("__n", size(col("__toks")).cast("long"))
        .withColumn("__stop",
          TextQueries.markerHits(col("__toks"), TextQueries.Stopwords).cast("long"))
        .withColumn("__uniq", size(array_distinct(col("__toks"))).cast("long"))
        .withColumn("__fp", md5(col("text")))
        .withColumn("__canon", min(col("doc_id")).over(w))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("__n")).as("n_tokens"),
          sum(when(lit(50L) * col("__stop") >= col("__n") &&
            lit(10L) * col("__uniq") >= col("__n") &&
            length(col("text")) >= 80, 1L).otherwise(0L)).as("n_quality_ok"),
          sum(when(col("doc_id") =!= col("__canon"), 1L).otherwise(0L)).as("n_dup"),
          sum(when(enBest, 1L).otherwise(0L)).as("n_en"))
        .withColumn("mean_tokens",
          col("n_tokens").cast("double") / col("n_docs"))
    }),
    "pipeline_curation_e2e" -> ((spark, sfDir) => {
      // pin the policy-independent signals FIRST (the manifest-diff
      // pattern, r14): filtering directly on the verdict column collapses
      // the whole when-chain into the Filter condition, and conditional
      // branches defeat codegen's common-subexpression elimination — the
      // tokenize+5-gram pass re-ran per branch (measured 6.5 s vs 2.3 s
      // for the one-pass projection at sf0.1). Over the pinned leaf the
      // verdict is integer comparisons on stored columns.
      val signals = CacheScope.pinned(cascadeSignals(spark, sfDir))
      val kept = CacheScope.pinned(
        withVerdict(signals, CascadeRepX10, CascadeStopDen)
          .filter(col("keep"))
          .select(col("doc_id"), col("n_tokens"))
          // the standing survivor frame (session-scoped pin): the simhash
          // component pass runs once per session, not once per consumer
          .join(DedupQueries.survivorFrame(spark, sfDir)
            .filter(col("kept")).select(col("doc_id")), "doc_id")
          .join(graft.Tables.load(spark, sfDir, "documents")
            .select(col("doc_id"), col("source")), "doc_id"))
      val inputs = graft.Tables.load(spark, sfDir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_input"))
      val shares = kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
      val tot = shares.agg(sum(col("n_kept")).as("__t"))
      val ratios = shares.crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("n_kept * 1000000 div __t"))
        .join(doremiWeightFrame(spark, sfDir)
          .select(col("source"), col("w").as("weight_ppm")), "source")
        .withColumn("__ratio",
          expr("weight_ppm * 1000000 div greatest(1, share_ppm)"))
      val mx = ratios.agg(max(col("__ratio")).as("__mx"))
      val rates = ratios.crossJoin(broadcast(mx))
        .withColumn("accept_ppm", expr("__ratio * 1000000 div __mx"))
        .select(col("source"), col("n_kept"), col("share_ppm"),
          col("weight_ppm"), col("accept_ppm"))
      val sampled = kept.join(broadcast(rates), "source")
        .filter(pmod(Hashing.hash64(concat(lit("e2e:"),
          col("doc_id").cast("string"))), lit(1000000L)) < col("accept_ppm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("n_tokens")).as("sampled_tokens"))
      inputs.join(rates, "source")
        .join(sampled, Seq("source"), "left_outer")
        .select(col("source"), col("n_input"), col("n_kept"),
          col("share_ppm"), col("weight_ppm"), col("accept_ppm"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
    })
  )

  /** The DoReMi trainer shared by `pipeline_doremi_weights` and the
    * curation capstone: per-source `(source, n_occ, loss, w)` after
    * [[DoremiRounds]] exponentiated-gradient rounds. */
  /** Session-scoped standing artifact (r14): `pipeline_doremi_weights` and
    * the curation capstone each consume the SAME deterministic trainer
    * output, and the fitted per-source weight table is how a real pipeline
    * serves DoReMi weights — fit once, mix everywhere. The memoized frame
    * is ≤#sources rows (control-plane sized, the qc_weights precedent);
    * the first consumer in a session pays the one corpus-sized bigram
    * pass. Oracle replays of every round hash-gate both consumers. */
  def doremiWeightFrame(spark: SparkSession, sfDir: String): DataFrame =
    CacheScope.sessionPinned("doremi_weights", sfDir, spark) {
      doremiWeightBuild(spark, sfDir)
    }

  private def doremiWeightBuild(spark: SparkSession, sfDir: String): DataFrame = {
      // Pre-aggregate to (source, bg, n) BEFORE anything joins (guide §2.3
      // "aggregate before you shuffle"): the exploded occurrence stream
      // collapses map-side to distinct (source, bigram) pairs, so the LM
      // count table derives from the aggregate (not a second pass over
      // occurrences) and the scoring join ships distinct pairs instead of
      // every occurrence — Σ_occ c(bg) = Σ_(s,bg) n·c and n_occ = Σ n are
      // the same exact integers, so the oracle rows are unchanged. The
      // cached frame shrinks from corpus-occurrence-sized to
      // distinct-pair-sized for the same two consumers. (r13: the old
      // occurrence-sized grams.join(lm) was the only corpus-width exchange
      // left in the trainer.)
      val sbg = graft.Tables.load(spark, sfDir, "documents")
        .withColumn("__toks", Hashing.tokens(col("text")))
        .filter(size(col("__toks")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(0, size(__toks) - 2), " +
            "i -> concat_ws(' ', __toks[i], __toks[i+1]))")).as("bg"))
        .groupBy(col("source"), col("bg")).agg(count(lit(1)).as("n"))
        .transform(CacheScope.cached) // feeds the LM count table AND the per-source rollup
      val lm = sbg.groupBy(col("bg")).agg(sum(col("n")).as("c"))
      val loss = CacheScope.pinned(sbg.join(lm, "bg")
        .groupBy(col("source"))
        .agg(sum(col("n")).as("n_occ"), sum(col("n") * col("c")).as("sum_freq"))
        .select(col("source"), col("n_occ"),
          expr(s"n_occ * $DoremiScale div sum_freq").as("loss")))
      val nd = loss.agg(count(lit(1)).as("nd"))
      var w = CacheScope.pinned(loss.crossJoin(broadcast(nd))
        .select(col("source"), expr(s"$DoremiWeightScale div nd").as("w")))
      for (_ <- 1 to DoremiRounds) {
        val j = w.join(loss.select(col("source"), col("loss")), "source")
        val mix = j.agg(expr("sum(w * loss) div sum(w)").as("mix"))
        val raw = j.crossJoin(broadcast(mix))
          .select(col("source"), expr(
            s"w * greatest(1, $DoremiEgBase + $DoremiEta * (loss - mix))" +
              s" div $DoremiEgBase").as("wr"))
        val tot = raw.agg(sum(col("wr")).as("wtot"))
        val prev = w
        w = CacheScope.pinned(raw.crossJoin(broadcast(tot))
          .select(col("source"),
            expr(s"wr * $DoremiWeightScale div wtot").as("w")))
        // the retired round is dead once the new pin has materialized
        CacheScope.releasePin(prev)
      }
      loss.select(col("source"), col("n_occ"), col("loss"))
        .join(w.select(col("source"), col("w")), "source")
  }

  /** The cascade's policy-independent signal extraction — the expensive
    * token/5-gram pass, shared across policy versions. */
  def cascadeSignals(spark: SparkSession, sfDir: String): DataFrame =
    signalsOver(graft.Tables.load(spark, sfDir, "documents"))

  /** Apply one policy's ordered verdict over [[cascadeSignals]]. */
  private def withVerdict(signals: DataFrame, repX10: Long, stopDen: Long): DataFrame =
    signals
      .withColumn("reason",
        when(col("n_tokens") < MinTokens, "too_short")
          .when(col("sum_token_len") < col("n_tokens") * CascadeMinMeanLen ||
            col("sum_token_len") > col("n_tokens") * CascadeMaxMeanLen, "word_length")
          .when(col("n_dup_grams") * 10L > col("n_grams") * repX10, "repetition")
          .when(col("n_stop") * stopDen < col("n_tokens"), "stopword")
          .otherwise("kept"))
      .withColumn("keep", col("reason") === "kept")

  /** One cascade pass at a given policy: `repX10` = the duplicate-5-gram
    * threshold in tenths (fires when dup_frac > repX10/10), `stopDen` = the
    * stopword floor's denominator (fires when stop_ratio < 1/stopDen). */
  def cascadeDecisions(spark: SparkSession, sfDir: String,
      repX10: Long, stopDen: Long): DataFrame =
    withVerdict(cascadeSignals(spark, sfDir), repX10, stopDen)

  /** The cascade over an arbitrary (doc_id, text) frame — batch or
    * STREAMING: the whole pipeline is a stateless projection, so the same
    * expressions run unchanged under Structured Streaming
    * ([[graft.streaming.StreamingCuration]]). */
  def cascadeOver(docs: DataFrame): DataFrame =
    withVerdict(signalsOver(docs), CascadeRepX10, CascadeStopDen)

  private def signalsOver(docs: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val toks = Hashing.tokens(col("text"))
    docs
      .withColumn("__toks", toks)
      .withColumn("__grams", when(size(col("__toks")) >= 5,
        expr("transform(sequence(0, size(__toks)-5), i -> concat_ws(' ', slice(__toks, i+1, 5)))"))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)")))
      .select((col("doc_id") +: passthrough.map(col)) ++ Seq(
        size(col("__toks")).cast("long").as("n_tokens"),
        aggregate(col("__toks"), lit(0L), (acc, t) => acc + length(t)).as("sum_token_len"),
        TextQueries.markerHits(col("__toks"), TextQueries.Stopwords)
          .cast("long").as("n_stop"),
        size(col("__grams")).cast("long").as("n_grams"),
        (size(col("__grams")) - size(array_distinct(col("__grams"))))
          .cast("long").as("n_dup_grams")): _*)
  }

  /** Mean-word-length acceptance band for the cascade (Gopher uses 3–10
    * chars); compared as `lo·n ≤ Σlen ≤ hi·n` — exact integers. */
  val CascadeMinMeanLen = 3L
  val CascadeMaxMeanLen = 10L

  /** v1 policy: drop when dup_frac > 0.3, or stop_ratio < 1/50 = 0.02. */
  val CascadeRepX10 = 3L
  val CascadeStopDen = 50L

  /** v2 (stricter) policy for the manifest diff: dup_frac > 0.2,
    * stop_ratio < 1/25 = 0.04 — flips a real slice of the fixture corpus
    * at every scale. */
  val CascadeRepX10V2 = 2L
  val CascadeStopDenV2 = 25L

  /** Quality-classifier geometry: hashed-unigram feature space (plus one
    * bias slot at index [[QcFeatures]]) and the unrolled batch-perceptron
    * round count. Fixed — the weight table is F+1 rows (broadcast into
    * the apply projection) and per-doc feature work is constant in corpus
    * size; the trainer's only corpus-sized cost is [[QcRounds]] passes
    * over the pinned (doc, bucket, count, label) frame. */
  val QcFeatures = 64L
  val QcRounds = 3

  /** Hashed-feature space size for DSIR (buckets the bigram vocabulary).
    * Fixed — per-doc work and the broadcast weight table stay constant in
    * corpus size. */
  val DsirBuckets = 4096L

  /** Integer scale for the smoothed target/raw ratio: six decimal digits
    * of the likelihood ratio survive the floor. */
  val DsirScale = 1000000L

  /** The trusted target domain: documents from these sources define the
    * distribution the selector steers toward (the fixtures' source axis is
    * flat, so the target is exactly 20% of the corpus at every scale). */
  val DsirTargetSources = Seq("src0", "src1", "src2", "src3")

  /** Size of the selected slice. */
  val DsirK = 50

  /** UniMax epoch cap: no language repeats more than this many times. */
  val UniMaxEpochCap = 3L

  /** UniMax total budget, in multiples of the corpus's total token count
    * (2 = "train for two corpus-epochs' worth of tokens"): with the
    * fixtures' ~43% head language this puts the smallest language at the
    * epoch cap and everyone else in the equal-share regime — both branches
    * of the allocation exercised at every scale. */
  val UniMaxBudgetEpochs = 2L

  val SeqLen = 2048

  /** Token budget per length-bucketed batch: capacity in documents is
    * `BatchTokenBudget div width`, so every bucket's batches carry the
    * same padded token load (8192 = 4 × the 2048 context). */
  val BatchTokenBudget = 8192L

  /** Per-stratum size of the priority sample. */
  val PrioritySampleK = 20

  /** DoReMi EG rounds. 6 keeps the unrolled oracle CTE chain tractable
    * while the weights move visibly away from uniform. */
  val DoremiRounds = 6

  /** Integer scale of the per-domain loss signal (ppm of one occurrence
    * per frequency unit: loss = n_occ·Scale div Σfreq ≤ Scale). */
  val DoremiScale = 1000000L

  /** Linearized-EG step denominator: update factor is
    * (EgBase + η·excess)/EgBase. On the fixtures' ~±400-point excess this
    * moves weights ~±2% over [[DoremiRounds]] rounds (measured at sf0.001
    * and sf0.01; strict monotone-in-loss at both); a pathological corpus
    * could push η·excess past −EgBase, which the GREATEST(1, ·) clamp in
    * both engine and oracle turns into the same positive floor. */
  val DoremiEgBase = 10000000L
  val DoremiEta = 100L

  /** Mixture weights carried in parts-per-million. */
  val DoremiWeightScale = 1000000L

  val oracleSql: Map[String, String] = Map(
    "pipeline_clean_corpus" ->
      s"""WITH corpus AS (
         |${DedupQueries.corpusSql}
         |), t AS (
         |  SELECT doc_id,
         |         CAST(len(${Hashing.tokensSql("text")}) AS BIGINT) AS n_tokens,
         |         md5(text) AS fp,
         |         MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
         |         COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
         |  FROM corpus)
         |SELECT doc_id, n_tokens, n_copies, fp AS fingerprint
         |FROM t
         |WHERE doc_id = canonical_id AND n_tokens >= $MinTokens""".stripMargin,
    "pipeline_train_split" ->
      s"""SELECT CASE WHEN ${Hashing.hash64Sql("CAST(doc_id AS VARCHAR)")} % 100 < 90
         |            THEN 'train' ELSE 'val' END AS split,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM documents
         |GROUP BY 1""".stripMargin,
    "pipeline_stratified_sample" ->
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 5""".stripMargin,
    "pipeline_temperature_mix" ->
      s"""WITH sizes AS (
         |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
         |mn AS (SELECT MIN(n_docs) AS mn FROM sizes),
         |rates AS (
         |  SELECT source, n_docs,
         |         CAST(floor(sqrt(CAST(mn AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |              * 1000.0 + 0.5) AS BIGINT) AS keep_permille
         |  FROM sizes CROSS JOIN mn)
         |SELECT d.source, MAX(r.n_docs) AS n_docs,
         |       MAX(r.keep_permille) AS keep_permille,
         |       CAST(SUM(CASE WHEN ${Hashing.hash64Sql("CAST(d.doc_id AS VARCHAR)")} % 1000
         |                     < r.keep_permille THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents d JOIN rates r ON r.source = d.source
         |GROUP BY d.source""".stripMargin,
    "pipeline_domain_caps" ->
      s"""WITH s AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
         |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM s),
         |c AS (
         |  SELECT source, n_docs,
         |         greatest($DomainCapFloor, tot // $DomainCapDiv) AS cap,
         |         least(1000, (greatest($DomainCapFloor, tot // $DomainCapDiv) * 1000)
         |               // n_docs) AS keep_permille
         |  FROM s CROSS JOIN t)
         |SELECT d.source, MAX(c.n_docs) AS n_docs, MAX(c.cap) AS cap,
         |  MAX(c.keep_permille) AS keep_permille,
         |  CAST(SUM(CASE WHEN ${Hashing.hash64Sql("CAST(d.doc_id AS VARCHAR)")} % 1000
         |                < c.keep_permille THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN ${Hashing.hash64Sql("CAST(d.doc_id AS VARCHAR)")} % 1000
         |                < c.keep_permille THEN d.doc_id ELSE 0 END) AS BIGINT)
         |    AS kept_id_sum
         |FROM documents d JOIN c ON c.source = d.source
         |GROUP BY d.source""".stripMargin,
    "pipeline_corpus_report" -> {
      val toksE = Hashing.tokensSql("text")
      val langScores = TextQueries.LangMarkers
        .map { case (l, ws) => s"${TextQueries.markerHitsSql("toks", ws)} AS s_$l" }
        .mkString(",\n    ")
      val enBest = TextQueries.LangMarkers.map(_._1).filter(_ != "en")
        .map(o => s"sc.s_en >= sc.s_$o").mkString(" AND ")
      s"""WITH t AS (
         |  SELECT doc_id, source, length(text) AS n_chars, md5(text) AS fp,
         |         $toksE AS toks
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, source, n_chars, fp, len(toks) AS n,
         |    ${TextQueries.markerHitsSql("toks", TextQueries.Stopwords)} AS nstop,
         |    len(list_distinct(toks)) AS uniq,
         |    $langScores
         |  FROM t),
         |canon AS (SELECT fp, MIN(doc_id) AS canon FROM t GROUP BY fp)
         |SELECT sc.source, COUNT(*) AS n_docs,
         |  CAST(SUM(sc.n) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN 50 * sc.nstop >= sc.n AND 10 * sc.uniq >= sc.n
         |                 AND sc.n_chars >= 80 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_quality_ok,
         |  CAST(SUM(CASE WHEN sc.doc_id <> c.canon THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup,
         |  CAST(SUM(CASE WHEN sc.s_en > 0 AND $enBest THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_en,
         |  CAST(CAST(SUM(sc.n) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_tokens
         |FROM sc JOIN canon c ON c.fp = sc.fp
         |GROUP BY sc.source""".stripMargin
    },
    "pipeline_source_mixture" ->
      s"""SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN ${Hashing.hash64Sql("CAST(doc_id AS VARCHAR)")} % 1000
         |                     < (1 + ${Hashing.hash64Sql("source")} % 5) * 100
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(MAX((1 + ${Hashing.hash64Sql("source")} % 5) * 100) AS BIGINT)
         |    AS target_permille
         |FROM documents
         |GROUP BY source""".stripMargin,
    "pipeline_decontaminate" ->
      s"""WITH corpus AS (
         |${DedupQueries.corpusSql}
         |),
         |t AS (SELECT doc_id, ${Hashing.tokensSql("text")} AS toks FROM corpus),
         |g AS (
         |  SELECT DISTINCT doc_id, md5(array_to_string(toks[s+1:s+8], ' ')) AS gfp
         |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 7)) AS s
         |        FROM t WHERE len(toks) >= 8) q),
         |bench AS (
         |  SELECT doc_id AS bench_id, gfp FROM g
         |  WHERE doc_id < ${DedupQueries.DeltaBase} AND doc_id % 100 = 0)
         |SELECT doc_id, COUNT(*) AS n_benchmark_hits FROM (
         |  SELECT DISTINCT tr.doc_id, b.bench_id
         |  FROM g tr JOIN bench b USING (gfp)
         |  WHERE NOT (tr.doc_id < ${DedupQueries.DeltaBase} AND tr.doc_id % 100 = 0)) p
         |GROUP BY doc_id""".stripMargin,
    "pipeline_decontaminate_fuzzy" -> {
      val d = DedupQueries.DeltaBase
      val wbandSelects = (0 until DedupQueries.NumHashes / 2).map { b =>
        s"SELECT doc_id, $b AS band, concat_ws('|', m${2 * b}, m${2 * b + 1}) AS bkey FROM fsigs"
      }.mkString("\nUNION ALL\n")
      val (shingName, shingSql) = DedupQueries.shingCte("fshing", "fcorpus")
      val (sigsName, sigsSql) = DedupQueries.sigsCteFrom("fsigs", "fshing")
      s"""WITH corpus0 AS (
         |${DedupQueries.corpusSql}
         |),
         |para AS (
         |  SELECT orig_id + ${3 * d} AS doc_id,
         |         array_to_string(list_transform(range(1, len(toks) + 1),
         |           i -> CASE WHEN i % $FuzzyParaEvery = 0
         |                     THEN 'qq' || CAST(orig_id % 97 AS VARCHAR) || '_' ||
         |                          CAST(i AS VARCHAR)
         |                     ELSE toks[i] END), ' ') AS text
         |  FROM (SELECT doc_id AS orig_id, ${Hashing.tokensSql("text")} AS toks
         |        FROM corpus0 WHERE doc_id % 100 = 0 AND doc_id < $d) t),
         |fcorpus AS (
         |  SELECT doc_id, text FROM corpus0
         |  UNION ALL
         |  SELECT doc_id, text FROM para),
         |$shingName AS (
         |$shingSql
         |),
         |$sigsName AS (
         |$sigsSql
         |),
         |wbands AS (
         |$wbandSelects
         |),
         |fcand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM wbands a JOIN wbands b ON b.band = a.band AND b.bkey = a.bkey
         |  WHERE (b.doc_id % 100 = 0 AND b.doc_id < $d)
         |    AND NOT (a.doc_id % 100 = 0 AND a.doc_id < $d)),
         |fcounts AS (SELECT doc_id, COUNT(*) AS n_sh FROM fshing GROUP BY doc_id),
         |finter AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
         |  FROM fcand c
         |  JOIN fshing sa ON sa.doc_id = c.doc_a
         |  JOIN fshing sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY c.doc_a, c.doc_b),
         |fver AS (
         |  SELECT * FROM (
         |    SELECT i.doc_a, i.doc_b,
         |           CAST(i.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - i.n_common) AS jaccard
         |    FROM finter i
         |    JOIN fcounts ca ON ca.doc_id = i.doc_a
         |    JOIN fcounts cb ON cb.doc_id = i.doc_b) j
         |  WHERE jaccard >= $FuzzyTau),
         |nb AS (
         |  SELECT COUNT(DISTINCT doc_id) AS n_bench FROM fshing
         |  WHERE doc_id % 100 = 0 AND doc_id < $d),
         |agg AS (
         |  SELECT COUNT(*) AS n_detected_pairs,
         |    CAST(SUM(CASE WHEN doc_a = doc_b + $d THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_exact_found,
         |    CAST(SUM(CASE WHEN doc_a = doc_b + ${2 * d} THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_near_found,
         |    CAST(SUM(CASE WHEN doc_a = doc_b + ${3 * d} THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_para_found,
         |    CAST(SUM(CASE WHEN doc_a <> doc_b + $d AND doc_a <> doc_b + ${2 * d}
         |                   AND doc_a <> doc_b + ${3 * d} THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_unplanted
         |  FROM fver)
         |SELECT nb.n_bench, agg.n_detected_pairs, agg.n_exact_found,
         |       agg.n_near_found, agg.n_para_found, agg.n_unplanted
         |FROM nb, agg""".stripMargin
    },
    "pipeline_weighted_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    least(900, greatest(100, n_chars // 2)) AS w,
         |    ${Hashing.hash64Sql("CAST(doc_id AS VARCHAR)")} % 1000 AS hd
         |  FROM documents)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN hd < w THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(w) AS BIGINT) AS sum_weight_permille
         |FROM t GROUP BY lang""".stripMargin,
    "pipeline_priority_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(least(900, greatest(100, n_chars // 2)) AS BIGINT) AS weight,
         |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,10)) AS BIGINT) AS h40
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, lang, weight, (h40 * 1000000) // weight AS priority FROM t)
         |SELECT lang, doc_id, weight, priority, rn FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |    ORDER BY priority, doc_id) AS BIGINT) AS rn
         |  FROM p) q
         |WHERE rn <= $PrioritySampleK""".stripMargin,
    "pipeline_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CAST(len(${Hashing.tokensSql("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, source, n_tokens,
         |  CAST((cum - n_tokens) // $SeqLen AS BIGINT) AS seq_id,
         |  CAST((cum - n_tokens) % $SeqLen AS BIGINT) AS seq_offset
         |FROM c""".stripMargin,
    "pipeline_length_buckets" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CAST(len(${Hashing.tokensSql("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(CASE WHEN n_tokens <= 32 THEN 32 WHEN n_tokens <= 64 THEN 64
         |      WHEN n_tokens <= 128 THEN 128 WHEN n_tokens <= 256 THEN 256
         |      WHEN n_tokens <= 512 THEN 512 WHEN n_tokens <= 1024 THEN 1024
         |      ELSE $SeqLen END AS BIGINT) AS width
         |  FROM t),
         |r AS (
         |  SELECT doc_id, source, width,
         |    LEAST(n_tokens, width) AS fill,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source, width
         |      ORDER BY doc_id) AS BIGINT) AS rn
         |  FROM b)
         |SELECT source, width, batch_id, n_docs, sum_tokens,
         |  n_docs * width AS padded_tokens,
         |  n_docs * width - sum_tokens AS waste_tokens
         |FROM (
         |  SELECT source, width,
         |    (rn - 1) // ($BatchTokenBudget // width) AS batch_id,
         |    COUNT(*) AS n_docs, CAST(SUM(fill) AS BIGINT) AS sum_tokens
         |  FROM r GROUP BY source, width,
         |    (rn - 1) // ($BatchTokenBudget // width)) g
         |""".stripMargin,
    "pipeline_epoch_shuffle" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${Hashing.hash64Sql("'ep3:' || CAST(doc_id AS VARCHAR)")} AS order_key
         |  FROM documents)
         |SELECT doc_id, order_key,
         |  CAST(order_key % 64 AS BIGINT) AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY order_key % 64
         |    ORDER BY order_key, doc_id) AS BIGINT) AS pos_in_shard
         |FROM h""".stripMargin,
    // UniMax waterfilling replayed relationally: same ascending rank,
    // running capped-demand prefix, prefix-closed capped flag, and
    // equal-split remainder as the engine.
    "pipeline_unimax_mix" ->
      s"""WITH tk AS (
         |  SELECT lang, CAST(SUM(len(${Hashing.tokensSql("text")})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
         |               CAST(COUNT(*) AS BIGINT) AS nlang FROM tk),
         |ranked AS (
         |  SELECT lang, n_tokens,
         |         CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, lang) AS BIGINT) AS i,
         |         CAST(SUM(n_tokens * $UniMaxEpochCap)
         |              OVER (ORDER BY n_tokens, lang) AS BIGINT) AS pfx,
         |         tot.tot * $UniMaxBudgetEpochs AS budget, tot.nlang AS nlang
         |  FROM tk CROSS JOIN tot),
         |flags AS (
         |  SELECT *, n_tokens * $UniMaxEpochCap * (nlang - i) <= budget - pfx AS capped
         |  FROM ranked),
         |flags2 AS (
         |  SELECT *, SUM(CASE WHEN capped THEN 0 ELSE 1 END)
         |            OVER (ORDER BY i) AS bad
         |  FROM flags),
         |ks AS (
         |  SELECT CAST(COALESCE(MAX(CASE WHEN capped AND bad = 0 THEN i END), 0) AS BIGINT) AS k,
         |         CAST(COALESCE(MAX(CASE WHEN capped AND bad = 0 THEN pfx END), 0) AS BIGINT) AS pfxk
         |  FROM flags2),
         |alloc AS (
         |  SELECT f.lang, f.n_tokens,
         |         CAST(CASE WHEN f.i <= ks.k THEN f.n_tokens * $UniMaxEpochCap
         |              ELSE (f.budget - ks.pfxk) // (f.nlang - ks.k) END AS BIGINT)
         |           AS alloc_tokens
         |  FROM flags2 f CROSS JOIN ks)
         |SELECT lang, n_tokens, alloc_tokens,
         |       CAST(alloc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs
         |FROM alloc""".stripMargin,
    // DSIR replayed relationally: same hashed-bigram buckets, same
    // integer-scaled smoothed ratio, same length-normalized floor-div
    // score; `//` on positive BIGINTs ≡ Spark's `div`.
    "pipeline_dsir_select" ->
      s"""WITH t AS (SELECT doc_id, source, ${Hashing.tokensSql("text")} AS toks
         |           FROM documents),
         |g AS (
         |  SELECT doc_id, source,
         |         ${Hashing.hash64Sql("bg")} % $DsirBuckets AS bucket
         |  FROM (SELECT doc_id, source,
         |          unnest(list_transform(range(len(toks) - 1),
         |            i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS bg
         |        FROM t WHERE len(toks) >= 2)),
         |raw AS (SELECT bucket, COUNT(*) AS rc FROM g GROUP BY bucket),
         |tgt AS (SELECT bucket, COUNT(*) AS tc FROM g
         |        WHERE source IN (${DsirTargetSources.map("'" + _ + "'").mkString(", ")})
         |        GROUP BY bucket),
         |ratio AS (
         |  SELECT raw.bucket,
         |         (COALESCE(tc, 0) + 1) * $DsirScale // (rc + 1) AS ratio
         |  FROM raw LEFT JOIN tgt USING (bucket)),
         |dc AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM g
         |       GROUP BY doc_id, bucket),
         |s AS (
         |  SELECT doc_id, CAST(SUM(cnt * ratio) AS BIGINT) AS num,
         |         CAST(SUM(cnt) AS BIGINT) AS n_bigrams
         |  FROM dc JOIN ratio USING (bucket) GROUP BY doc_id)
         |SELECT doc_id, n_bigrams,
         |       CAST(num // n_bigrams AS DOUBLE) / $DsirScale AS score,
         |       rank
         |FROM (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY num // n_bigrams DESC,
         |        doc_id) AS BIGINT) AS rank FROM s) r
         |WHERE rank <= $DsirK""".stripMargin,
    // The cascade replayed: same integer signal extraction, same ordered
    // CASE — first failing rule wins the reason.
    "pipeline_filter_cascade" ->
      cascadeSelectSql(CascadeRepX10, CascadeStopDen),
    // the trained classifier replayed: cascade labels, hashed-unigram
    // features (+bias), then every batch-perceptron round unrolled —
    // score join vs w_{t-1}, misclassified set y·s ≤ 0, integer Δw —
    // the k-means/DoReMi trainer-oracle pattern; per-round CASTs keep
    // DuckDB's HUGEINT promotion out of the compared schema
    "pipeline_quality_classifier" -> qualityClassifierSqlStr,
    // the streaming twin is gated by the SAME oracle: the deployed
    // literal-array scorer computes the identical integer score
    "stream_quality_classifier" -> qualityClassifierSqlStr,
    // the calibration table replayed: same trainer chain, same exact-rank
    // decile arithmetic
    "pipeline_classifier_calibration" -> classifierCalibrationSqlStr,
    // The manifest diff replayed via the shared [[DiffOracle]] generator:
    // v1 manifest as the "before" CTE, v2 as the after arm, same
    // normalize → full-outer → classify → emit contract as every diff_*.
    "pipeline_manifest_diff" -> {
      val t = graft.TableDef("casc_v1", Seq("doc_id", "keep", "reason"),
        Seq("doc_id"))
      def manifestSql(repX10: Long, stopDen: Long): String =
        s"SELECT doc_id, keep, reason FROM (${cascadeSelectSql(repX10, stopDen)}) m"
      val (ctes, select) = DiffOracle.diffParts(t,
        manifestSql(CascadeRepX10V2, CascadeStopDenV2), t.pk, "casc_d")
      val all = Seq("casc_v1" -> manifestSql(CascadeRepX10, CascadeStopDen)) ++ ctes
      "WITH " + all.map { case (n, q) => s"$n AS (\n$q\n)" }.mkString(",\n") +
        "\n" + select
    },
    // The streaming funnel's oracle is the BATCH cascade aggregated by
    // reason — stateless projections are stream/batch identical.
    "stream_cascade_funnel" ->
      s"""SELECT reason, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |FROM (${cascadeSelectSql(CascadeRepX10, CascadeStopDen)}) f
         |GROUP BY reason""".stripMargin,
    // DoReMi replayed as unrolled CTEs (the k-means/PageRank/BPE oracle
    // pattern): same integer loss signal, same mixture-mean excess, same
    // linearized-EG factor and ppm renormalization every round — `//` on
    // the all-positive operands ≡ Spark's `div`, and each round's sums are
    // CAST back to BIGINT so DuckDB's HUGEINT promotion never leaks into
    // the compared schema.
    "pipeline_doremi_weights" -> doremiSqlStr,
    // the capstone composed from its stages' own oracle pieces: the
    // cascade SELECT embeds as the `casc` CTE, survivorship reuses
    // DedupQueries.survivorsCtes verbatim (recursive components — hence
    // the WITH RECURSIVE), the mixture weights reuse the unrolled DoReMi
    // chain, and the sampling predicate replays the engine's md5 routing
    "pipeline_curation_e2e" -> curationE2eSqlStr
  )

  /** Fit the quality classifier on the corpus at `sfDir`: returns the
    * pinned `(doc_id, j, x, y)` feature frame (teacher label y = ±1 from
    * the cascade; j = hashed-unigram bucket, [[QcFeatures]] = bias) and
    * the fitted F+1-row weight frame after [[QcRounds]] batch-perceptron
    * rounds — exact integer arithmetic throughout, weight frame pinned
    * EVERY round (the iterative-trainer lineage discipline). Shared by
    * the batch query and the streaming twin's offline-training stage. */
  def qcFit(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val feat = CacheScope.pinned(qcFeatBuild(spark, sfDir))
    (feat, qcTrain(spark, sfDir, Some(feat)))
  }

  /** The fitted weight frame ALONE — the streaming twin's entry point: on
    * a session-pin hit this never touches the corpus (the batch apply
    * path needs the feature frame anyway; the stream scorer does not). */
  def qcWeights(spark: SparkSession, sfDir: String): DataFrame =
    qcTrain(spark, sfDir, None)

  /** The (doc_id, j, x, y) feature frame: teacher label joined onto the
    * hashed-unigram counts + the bias row. Lazy — callers pin it. */
  private def qcFeatBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val labeled = cascadeDecisions(spark, sfDir, CascadeRepX10, CascadeStopDen)
      .select(col("doc_id"), when(col("keep"), 1L).otherwise(-1L).as("y"))
    val tokFeat = docs
      .select(col("doc_id"), explode(Hashing.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), (Hashing.hash64(col("tok")) % QcFeatures).as("j"))
      .groupBy(col("doc_id"), col("j")).agg(count(lit(1)).as("x"))
    val bias = docs.select(col("doc_id"), lit(QcFeatures).as("j"), lit(1L).as("x"))
    tokFeat.unionByName(bias).join(labeled, "doc_id")
  }

  /** The trainer, SESSION-PINNED on its fitted F+1-row weight frame (the
    * standing-index tier, same precedent as the dedup survivor frame): the
    * batch query and the streaming deployment twin each need the same
    * weights, and retraining per consumer paid the [[QcRounds]] corpus
    * passes twice per session. The memoized frame is 65 rows —
    * control-plane-sized — and survives `releaseAll`; `featShared` lets
    * the batch path's already-pinned feature frame feed the first (and
    * only) training run instead of a second extraction pass. */
  private def qcTrain(spark: SparkSession, sfDir: String,
      featShared: Option[DataFrame]): DataFrame =
    CacheScope.sessionPinned("qc_weights", sfDir, spark) {
      val feat = featShared.getOrElse(
        CacheScope.pinned(qcFeatBuild(spark, sfDir)))
      var w = CacheScope.pinned(spark.range(QcFeatures + 1)
        .select(col("id").as("j"), lit(0L).as("w")))
      for (_ <- 1 to QcRounds) {
        // batch perceptron round: docs with y·s ≤ 0 vote y·x into Δw
        // (w starts at 0, so round 1 updates on every doc)
        val upd = feat.join(
            qcScores(feat, w).filter(col("y") * col("s") <= 0L).select(col("doc_id")),
            "doc_id")
          .groupBy(col("j")).agg(sum(col("y") * col("x")).as("dw"))
        val prev = w
        w = CacheScope.pinned(w.join(upd, Seq("j"), "left_outer")
          .select(col("j"), (col("w") + coalesce(col("dw"), lit(0L))).as("w")))
        // the retired round is dead once the new pin has materialized
        CacheScope.releasePin(prev)
      }
      w
    }

  /** Per-doc integer scores under a weight frame: the broadcast
    * dot-product — (doc_id, y, s = Σ_j x_j·w_j). */
  private def qcScores(feat: DataFrame, w: DataFrame): DataFrame =
    feat.join(broadcast(w), "j")
      .groupBy(col("doc_id"))
      .agg(min(col("y")).as("y"), sum(col("x") * col("w")).as("s"))

  /** Per-source student-vs-teacher confusion over (source, pred, y). */
  def qcConfusion(decisions: DataFrame): DataFrame = decisions
    .groupBy(col("source"))
    .agg(count(lit(1)).as("n_docs"),
      sum(when(col("pred") === 1L, 1L).otherwise(0L)).as("n_pred_keep"),
      sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_true_keep"),
      sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_agree"))
    .withColumn("accuracy_ppm", expr("n_agree * 1000000 div n_docs"))

  /** Stateless per-row decision projection under FITTED weights — the
    * deployment form of the classifier: the F+1 fitted weights become a
    * literal array, a document's score is `Σ_tokens w[hash(tok) % F] +
    * w[F]` (integer adds in any order ≡ the batch Σ_j x_j·w_j exactly),
    * and the teacher label rides along from [[cascadeOver]]. No join, no
    * state — runs unchanged under Structured Streaming
    * ([[graft.streaming.StreamingClassifier]]). */
  def qcDecide(docs: DataFrame, weights: Array[Long]): DataFrame = {
    val wArr = array(weights.map(lit(_)): _*)
    // coalesce: a NULL text must score bias-only (the batch join path sees
    // only the bias feature row for such docs) — aggregate over a null
    // array would yield a NULL score and force pred=-1, a silent
    // stream-vs-batch divergence
    val score = aggregate(
      coalesce(Hashing.tokens(col("text")), array().cast("array<string>")),
      lit(weights(QcFeatures.toInt)), // bias
      (acc, t) => acc + element_at(wArr, (Hashing.hash64(t) % QcFeatures).cast("int") + 1))
    val scored = docs.withColumn("__s", score)
    withVerdict(signalsOver(scored, Seq("source", "__s")),
        CascadeRepX10, CascadeStopDen)
      .select(col("doc_id"), col("source"),
        when(col("__s") > 0L, 1L).otherwise(-1L).as("pred"),
        when(col("keep"), 1L).otherwise(-1L).as("y"))
  }

  /** Unrolled-trainer oracle for the quality classifier. */
  /** The unrolled batch-perceptron trainer as a CTE chain ending at
    * `fs(doc_id, y, s)` — the per-doc teacher label + fitted raw score.
    * Shared by the confusion oracle and the calibration oracle so both
    * replay the identical trainer. */
  private def qcTrainerCtesStr: String = {
    val rounds = (1 to QcRounds).map { t =>
      s"""s$t AS (
         |  SELECT f.doc_id, MIN(f.y) AS y, CAST(SUM(f.x * w.w) AS BIGINT) AS s
         |  FROM featy f JOIN w${t - 1} w ON w.j = f.j GROUP BY f.doc_id),
         |u$t AS (
         |  SELECT f.j, CAST(SUM(f.y * f.x) AS BIGINT) AS dw
         |  FROM featy f JOIN s$t m ON m.doc_id = f.doc_id
         |  WHERE m.y * m.s <= 0 GROUP BY f.j),
         |w$t AS (
         |  SELECT w.j, CAST(w.w + COALESCE(u.dw, 0) AS BIGINT) AS w
         |  FROM w${t - 1} w LEFT JOIN u$t u ON u.j = w.j)""".stripMargin
    }.mkString(",\n")
    s"""casc AS (
       |  SELECT doc_id, CASE WHEN keep THEN 1 ELSE -1 END AS y
       |  FROM (${cascadeSelectSql(CascadeRepX10, CascadeStopDen)}) c),
       |toks AS (SELECT doc_id, source, ${Hashing.tokensSql("text")} AS tk
       |         FROM documents),
       |tf AS (
       |  SELECT doc_id, bucket AS j, CAST(COUNT(*) AS BIGINT) AS x
       |  FROM (SELECT doc_id, ${Hashing.hash64Sql("tok")} % $QcFeatures AS bucket
       |        FROM (SELECT doc_id, unnest(tk) AS tok FROM toks))
       |  GROUP BY doc_id, bucket),
       |feat AS (
       |  SELECT doc_id, j, x FROM tf
       |  UNION ALL
       |  SELECT doc_id, CAST($QcFeatures AS BIGINT) AS j, CAST(1 AS BIGINT) AS x
       |  FROM toks),
       |featy AS (
       |  SELECT f.doc_id, f.j, f.x, c.y
       |  FROM feat f JOIN casc c ON c.doc_id = f.doc_id),
       |w0 AS (SELECT CAST(r.j AS BIGINT) AS j, CAST(0 AS BIGINT) AS w
       |       FROM range(0, ${QcFeatures + 1}) r(j)),
       |$rounds,
       |fs AS (
       |  SELECT f.doc_id, MIN(f.y) AS y, CAST(SUM(f.x * w.w) AS BIGINT) AS s
       |  FROM featy f JOIN w$QcRounds w ON w.j = f.j GROUP BY f.doc_id)""".stripMargin
  }

  private def qualityClassifierSqlStr: String =
    s"""WITH $qcTrainerCtesStr,
       |pred AS (
       |  SELECT t.source, CASE WHEN fs.s > 0 THEN 1 ELSE -1 END AS pred, fs.y
       |  FROM fs JOIN toks t ON t.doc_id = fs.doc_id)
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_keep,
       |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_true_keep,
       |  CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
       |    AS BIGINT) AS accuracy_ppm
       |FROM pred GROUP BY source""".stripMargin

  /** Calibration oracle: the same trainer chain, then the exact-rank
    * decile assignment replayed — per-score cumulative counts + an
    * intra-score row_number, decile = ((rank−1)·10) div n + 1. */
  private def classifierCalibrationSqlStr: String =
    s"""WITH $qcTrainerCtesStr,
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM fs),
       |scnt AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt FROM fs GROUP BY s),
       |clt AS (
       |  SELECT s, CAST(COALESCE(SUM(cnt) OVER (ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c_lt
       |  FROM scnt),
       |ranked AS (
       |  SELECT f.doc_id, f.s, f.y,
       |         c.c_lt + ROW_NUMBER() OVER (PARTITION BY f.s ORDER BY f.doc_id) AS r
       |  FROM fs f JOIN clt c ON c.s = f.s),
       |dec AS (
       |  SELECT CAST((r - 1) * 10 // nn.n + 1 AS BIGINT) AS decile, s, y
       |  FROM ranked CROSS JOIN nn)
       |SELECT decile,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(MIN(s) AS BIGINT) AS min_score,
       |  CAST(MAX(s) AS BIGINT) AS max_score,
       |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_teacher_keep,
       |  CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_keep,
       |  CAST(SUM(CASE WHEN (s > 0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
       |    AS BIGINT) AS teacher_keep_ppm
       |FROM dec GROUP BY decile""".stripMargin

  /** Composed oracle for the end-to-end curation capstone. */
  private def curationE2eSqlStr: String = {
    val survCtes = DedupQueries.survivorsCtes
      .map { case (n, q) => s"$n AS (\n$q\n)" }.mkString(",\n")
    s"""WITH RECURSIVE $survCtes,
       |$doremiCtesStr,
       |casc AS (
       |  SELECT doc_id, n_tokens
       |  FROM (${cascadeSelectSql(CascadeRepX10, CascadeStopDen)}) c
       |  WHERE keep),
       |keptdocs AS (
       |  SELECT c.doc_id, c.n_tokens, d.source
       |  FROM casc c
       |  JOIN surv s ON s.doc_id = c.doc_id AND s.kept
       |  JOIN documents d ON d.doc_id = c.doc_id),
       |inputs AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_input
       |  FROM documents GROUP BY source),
       |shares AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
       |  FROM keptdocs GROUP BY source),
       |tt AS (SELECT CAST(SUM(n_kept) AS BIGINT) AS t FROM shares),
       |ratios AS (
       |  SELECT s.source, s.n_kept,
       |         CAST(s.n_kept * 1000000 // tt.t AS BIGINT) AS share_ppm,
       |         w.w AS weight_ppm,
       |         CAST(w.w * 1000000 // GREATEST(1,
       |             CAST(s.n_kept * 1000000 // tt.t AS BIGINT))
       |           AS BIGINT) AS ratio
       |  FROM shares s CROSS JOIN tt
       |  JOIN w$DoremiRounds w ON w.source = s.source),
       |mx AS (SELECT CAST(MAX(ratio) AS BIGINT) AS mx FROM ratios),
       |rates AS (
       |  SELECT source, n_kept, share_ppm, weight_ppm,
       |         CAST(ratio * 1000000 // mx AS BIGINT) AS accept_ppm
       |  FROM ratios CROSS JOIN mx),
       |samp AS (
       |  SELECT k.source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
       |         CAST(SUM(k.n_tokens) AS BIGINT) AS sampled_tokens
       |  FROM keptdocs k JOIN rates r ON r.source = k.source
       |  WHERE ${Hashing.hash64Sql("concat('e2e:', CAST(k.doc_id AS VARCHAR))")}
       |          % 1000000 < r.accept_ppm
       |  GROUP BY k.source)
       |SELECT i.source, i.n_input, r.n_kept, r.share_ppm, r.weight_ppm,
       |       r.accept_ppm,
       |       COALESCE(s.n_sampled, 0) AS n_sampled,
       |       COALESCE(s.sampled_tokens, 0) AS sampled_tokens
       |FROM inputs i
       |JOIN rates r USING (source)
       |LEFT JOIN samp s USING (source)""".stripMargin
  }

  /** Unrolled-CTE oracle for the DoReMi trainer. */
  private def doremiSqlStr: String =
    s"""WITH $doremiCtesStr
       |SELECT l.source, l.n_occ, l.loss AS loss_scaled, w.w AS weight_ppm
       |FROM loss l JOIN w$DoremiRounds w USING (source)""".stripMargin

  /** The DoReMi CTE chain (g → lm → loss → w0 → … → w[[DoremiRounds]])
    * without the WITH prefix — shared by [[doremiSqlStr]] and the curation
    * capstone's composed oracle. */
  private def doremiCtesStr: String = {
    val rounds = (1 to DoremiRounds).map { t =>
      s"""mix$t AS MATERIALIZED (
         |  SELECT CAST(SUM(w.w * l.loss) // SUM(w.w) AS BIGINT) AS mix
         |  FROM w${t - 1} w JOIN loss l USING (source)),
         |wr$t AS MATERIALIZED (
         |  SELECT w.source,
         |         CAST(w.w * GREATEST(1, $DoremiEgBase
         |             + $DoremiEta * (l.loss - m.mix)) // $DoremiEgBase
         |           AS BIGINT) AS wr
         |  FROM w${t - 1} w JOIN loss l USING (source) CROSS JOIN mix$t m),
         |wt$t AS MATERIALIZED (
         |  SELECT CAST(SUM(wr) AS BIGINT) AS wtot FROM wr$t),
         |w$t AS MATERIALIZED (
         |  SELECT source, CAST(wr * $DoremiWeightScale // wtot AS BIGINT) AS w
         |  FROM wr$t CROSS JOIN wt$t)""".stripMargin
    }.mkString(",\n")
    s"""g AS MATERIALIZED (
       |  SELECT source, unnest(list_transform(range(len(toks) - 1),
       |    i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS bg
       |  FROM (SELECT source, ${Hashing.tokensSql("text")} AS toks
       |        FROM documents) t
       |  WHERE len(toks) >= 2),
       |lm AS MATERIALIZED (SELECT bg, COUNT(*) AS c FROM g GROUP BY bg),
       |loss AS MATERIALIZED (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_occ,
       |         CAST(COUNT(*) * $DoremiScale // CAST(SUM(c) AS BIGINT)
       |           AS BIGINT) AS loss
       |  FROM g JOIN lm USING (bg) GROUP BY source),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM loss),
       |w0 AS MATERIALIZED (
       |  SELECT source, CAST($DoremiWeightScale // nd AS BIGINT) AS w
       |  FROM loss CROSS JOIN nd),
       |$rounds""".stripMargin
  }

  /** The cascade's oracle SELECT (no CTEs, so it embeds as a subquery or a
    * diff arm), parameterized by the same policy knobs as
    * [[cascadeDecisions]]. */
  private def cascadeSelectSql(repX10: Long, stopDen: Long): String =
    s"""SELECT doc_id, n_tokens, sum_token_len, n_stop, n_grams, n_dup_grams,
       |       reason, reason = 'kept' AS keep
       |FROM (
       |  SELECT *,
       |    CASE WHEN n_tokens < $MinTokens THEN 'too_short'
       |         WHEN sum_token_len < $CascadeMinMeanLen * n_tokens
       |           OR sum_token_len > $CascadeMaxMeanLen * n_tokens THEN 'word_length'
       |         WHEN n_dup_grams * 10 > n_grams * $repX10 THEN 'repetition'
       |         WHEN n_stop * $stopDen < n_tokens THEN 'stopword'
       |         ELSE 'kept' END AS reason
       |  FROM (
       |    SELECT doc_id, n_tokens, sum_token_len, n_stop,
       |           CAST(len(grams) AS BIGINT) AS n_grams,
       |           CAST(len(grams) - len(list_distinct(grams)) AS BIGINT) AS n_dup_grams
       |    FROM (
       |      SELECT doc_id,
       |             CAST(len(toks) AS BIGINT) AS n_tokens,
       |             CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0)
       |               AS BIGINT) AS sum_token_len,
       |             CAST(${TextQueries.markerHitsSql("toks", TextQueries.Stopwords)}
       |               AS BIGINT) AS n_stop,
       |             CASE WHEN len(toks) >= 5
       |                  THEN list_transform(range(len(toks)-4),
       |                         i -> array_to_string(toks[i+1:i+5], ' '))
       |                  ELSE [] END AS grams
       |      FROM (SELECT doc_id, ${Hashing.tokensSql("text")} AS toks
       |            FROM documents) t) g) s) r""".stripMargin
}
