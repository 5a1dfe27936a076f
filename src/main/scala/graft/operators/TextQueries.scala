package graft.operators

import graft.CacheScope
import graft.Tables
import graft.functions.{FreqSketch, Hashing, QuantizedVec}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language identification (marker-word heuristic), and
  * content fingerprinting — the per-document scoring stages of a training-
  * data pipeline. All are narrow per-row projections (no shuffle): at
  * 100 TB they scale linearly and stay inside whole-stage codegen.
  *
  * Determinism: every score is derived from exact integer counts (token
  * counts, lengths, marker hits) with at most one final double division.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** BPE merge rounds trained by `text_bpe_merges`. 8 keeps the unrolled
    * oracle CTE chain tractable while exercising the full loop shape; a
    * production vocab run is the same recurrence with ~30k rounds over the
    * same O(vocab × word len) per-round state. */
  val BpeMerges = 8

  /** Marker words per language for the lang-ID heuristic. Precedence order
    * (en, de, fr, es) breaks ties deterministically. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "los", "las", "que", "es"))

  private[operators] def markerHits(toks: Column, words: Seq[String]): Column = {
    val pred = (t: Column) => words.map(w => t === w).reduce(_ || _)
    size(filter(toks, pred))
  }

  private[operators] def markerHitsSql(toksE: String, words: Seq[String]): String = {
    val pred = words.map(w => s"t = '$w'").mkString(" OR ")
    s"len(list_filter($toksE, t -> $pred))"
  }

  /** Distinct marker words present (not occurrences): the Gopher stop-word
    * rule (Rae et al. 2021 table A1) requires >= 2 DISTINCT stop words, so
    * a doc containing only "the the" must not pass. */
  private[operators] def distinctMarkerHits(toks: Column, words: Seq[String]): Column = {
    val pred = (t: Column) => words.map(w => t === w).reduce(_ || _)
    size(array_distinct(filter(toks, pred)))
  }

  private[operators] def distinctMarkerHitsSql(toksE: String, words: Seq[String]): String = {
    val pred = words.map(w => s"t = '$w'").mkString(" OR ")
    s"len(list_distinct(list_filter($toksE, t -> $pred)))"
  }

  /** BPE-ish subword tokenization regex: letter runs, digit runs, or single
    * non-alphanumeric glyphs. Simple enough to behave identically in Java
    * and RE2 regex engines. */
  val SubwordPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** Gopher rule thresholds (Rae et al. 2021, table A1) for
    * `text_gopher_rules`. The fractional thresholds (mean word length
    * ∈ [3,10], alpha-word fraction ≥ 0.8, top-2-gram char fraction ≤ 0.20,
    * top-3-gram ≤ 0.18) are enforced as integer cross-multiplications in
    * the query body, so only the integer bounds live here. */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinStop = 2L

  /** BM25 (Okapi) parameters for `text_bm25_topk` — the standard k1/b
    * operating point (Robertson & Walker, SIGIR '94). `Bm25K1Plus1` is a
    * SEPARATE literal rather than `Bm25K1 + 1.0` because 1.2+1.0 rounds to
    * the double exactly halfway between the two representable neighbors of
    * 2.2 — both engines must parse the same decimal literal, not fold it.
    * `Bm25DfCap` bounds posting lists like `text_inverted_index`'s [2, 20]
    * df band: a term seen once retrieves nothing, a stop-phrase's postings
    * would dominate the candidate join at corpus scale while its idf
    * contribution vanishes. */
  val Bm25K1 = 1.2
  val Bm25K1Plus1 = 2.2
  val Bm25B = 0.75
  val Bm25OneMinusB = 0.25
  val Bm25DfCap = 20
  val Bm25TopK = 10

  /** Shared context-window chunker (ChunkLen-token chunks at stride
    * ChunkStride): ONE definition feeds both `text_chunks` (the training
    * contexts) and `dedup_chunk_overlap` (chunk-level dedup), so the
    * chunks being deduped are provably the chunks being trained on —
    * a stride/length change can't desynchronize them. */
  val ChunkLen = 64
  val ChunkStride = 48

  /** Sample size for the CCNet tercile-threshold sketch (quantile standard
    * error ~ sqrt(p(1-p)/k) ≈ 4% of rank at k=128, per language). */
  val CcnetSampleK = 128

  /** The n-gram LM fluency scorer (shared by `text_lm_fluency` and the
    * CCNet bucketing): per-doc mean corpus frequency over bigram
    * occurrences, the exact rational sum_freq/n_bigrams. */
  def fluencyFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.load(spark, sfDir, "documents")
      .withColumn("__toks", Hashing.tokens(col("text")))
      .filter(size(col("__toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(__toks) - 2), " +
          "i -> concat_ws(' ', __toks[i], __toks[i+1]))")).as("bg"))
      .transform(CacheScope.cached) // feeds the LM count table AND the scoring join probe
    val lm = grams.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    grams.join(lm, "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("sum_freq"))
      .withColumn("fluency", col("sum_freq").cast("double") / col("n_bigrams"))
  }

  def chunkFingerprints(docs: DataFrame): DataFrame =
    docs
      .withColumn("__toks", Hashing.tokens(col("text")))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, greatest(size(__toks) - 1, 0), $ChunkStride)"))
          .as("start"),
        col("__toks"))
      .select(col("doc_id"),
        expr(s"start div $ChunkStride").cast("long").as("chunk_id"),
        expr(s"slice(__toks, start + 1, $ChunkLen)").as("__chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("__chunk")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("__chunk"))).as("chunk_fp"))

  /** Oracle twin of [[chunkFingerprints]]: CTEs + final SELECT over `src`. */
  def chunkCtes(src: String, p: String = "ck"): (Seq[(String, String)], String) = (
    Seq(
      s"${p}_t" -> s"SELECT doc_id, ${Hashing.tokensSql("text")} AS toks FROM $src",
      s"${p}_s" ->
        s"""SELECT doc_id, toks,
           |  unnest(range(0, greatest(len(toks), 1), $ChunkStride)) AS start
           |FROM ${p}_t""".stripMargin,
      s"${p}_c" ->
        s"""SELECT doc_id, start // $ChunkStride AS chunk_id,
           |  toks[start+1:start+$ChunkLen] AS chunk
           |FROM ${p}_s""".stripMargin),
    s"""SELECT doc_id, chunk_id, len(chunk) AS n_chunk_tokens,
       |  md5(array_to_string(chunk, ' ')) AS chunk_fp
       |FROM ${p}_c""".stripMargin)

  /** One corpus tokenization pass → the per-(doc, 3-gram-shingle) frame
    * `(doc_id, dl, shingle, tf)` every BM25 surface builds on (dl = the
    * doc's shingle count — its BM25 length norm). */
  private[operators] def bm25Postings(docs: DataFrame): DataFrame =
    docs
      .withColumn("__toks", Hashing.tokens(col("text")))
      .filter(size(col("__toks")) >= 3)
      .withColumn("dl", (size(col("__toks")) - 2).cast("long"))
      .select(col("doc_id"), col("dl"), explode(expr(
        "transform(sequence(0, size(__toks) - 3), " +
          "i -> concat_ws(' ', __toks[i], __toks[i+1], __toks[i+2]))")).as("shingle"))
      .groupBy(col("doc_id"), col("dl"), col("shingle"))
      .agg(count(lit(1)).as("tf"))

  /** The Okapi retrieval/scoring stages shared by the inline
    * `text_bm25_topk` and the persisted-index `text_bm25_indexed` path —
    * ONE definition so the serving index cannot drift from the
    * oracle-checked build. `idx` = df-banded postings
    * `(doc_id, dl, shingle, tf, df)`; `stats` = one row `(__ts, __n)`.
    * Probe batch and per-term contributions stay broadcast/df-capped —
    * Σ_{t∈probe} df(t) candidate rows per probe regardless of corpus
    * size — and contributions quantize to micro-unit BIGINTs before the
    * order-free integer sum. */
  private[operators] def bm25TopkFrom(idx: DataFrame, stats: DataFrame,
      stride: Long): DataFrame = {
    val probes = idx.filter(col("doc_id") % stride === 0)
      .select(col("doc_id").as("probe_id"), col("shingle"))
    val contrib = idx
      .select(col("doc_id").as("neighbor_id"), col("shingle"),
        col("tf"), col("dl"), col("df"))
      .join(broadcast(probes), Seq("shingle"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .crossJoin(broadcast(stats))
      .withColumn("c_micro", QuantizedVec.quantized(
        (col("__n").cast("double") / col("df")) *
          ((col("tf").cast("double") * lit(Bm25K1Plus1)) /
            (col("tf").cast("double") + lit(Bm25K1) *
              (lit(Bm25OneMinusB) + lit(Bm25B) *
                ((col("dl").cast("double") * col("__n").cast("double"))
                  / col("__ts").cast("double")))))))
    val scored = contrib.groupBy(col("probe_id"), col("neighbor_id"))
      .agg(count(lit(1)).as("n_shared"), sum(col("c_micro")).as("bm25_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("bm25_micro").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= Bm25TopK)
      .select(col("probe_id"), col("neighbor_id"), col("n_shared"),
        col("bm25_micro"), col("rank"))
  }

  /** PERSISTED BM25 SERVING INDEX — the retrieval twin of the IVF index
    * lifecycle ([[SimilarityQueries.buildIvfIndex]]) and of
    * `dedup_incremental`'s standing LSH index. Layout under `dir`:
    *   - `postings/` — `(doc_id, dl, shingle, tf)`, one row per
    *     (doc, shingle); appended per delta batch.
    *   - `df/` — per-segment partial `(shingle, df)` counts.
    *   - `stats/` — per-segment partial `(ts, n_docs)` totals.
    * `df` and `stats` are APPEND-ONLY partial segments merged by
    * aggregation at read time (the HLL relational-merge pattern): an
    * append writes only the delta's own counts — O(batch) work, standing
    * segments untouched — and the merged df/avgdl therefore always
    * reflect the whole corpus; [[compactBm25Index]] periodically folds
    * segments back to one so read-side merge stays bounded by segment
    * count, not append count. */
  def buildBm25Index(spark: SparkSession, sfDir: String, dir: String): Unit =
    buildBm25IndexFrom(Tables.load(spark, sfDir, "documents"), dir)

  /** Build the index from an arbitrary base-corpus frame (the spec's
    * split-build path; the production shape where the base corpus is a
    * curated view rather than a whole fixture table). */
  def buildBm25IndexFrom(docs: DataFrame, dir: String): Unit =
    writeBm25Segment(docs, dir, first = true)

  /** Absorb a delta batch: tokenize ONLY the new docs, append their
    * postings and partial df/stats segments. Nothing rescans the
    * standing corpus. */
  def appendToBm25Index(spark: SparkSession, dir: String, newDocs: DataFrame): Unit =
    writeBm25Segment(newDocs, dir, first = false)

  private def writeBm25Segment(docs: DataFrame, dir: String, first: Boolean): Unit = {
    val mode = if (first) "overwrite" else "append"
    CacheScope.persisting(bm25Postings(docs)) { post =>
      post.write.mode(mode).parquet(s"$dir/postings")
      post.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .write.mode(mode).parquet(s"$dir/df")
      post.select(col("doc_id"), col("dl")).dropDuplicates("doc_id")
        .agg(coalesce(sum(col("dl")), lit(0L)).as("ts"))
        .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
        .write.mode(mode).parquet(s"$dir/stats")
    }
  }

  /** Fold the append-only df/stats segments back to one segment each
    * (postings are already per-doc rows — nothing to fold). Read-side
    * results are unchanged: the fold is the same aggregation the reader
    * runs. */
  def compactBm25Index(spark: SparkSession, dir: String): Unit = {
    def fold(sub: String, agg: DataFrame => DataFrame): Unit = {
      val tmp = s"$dir/__compact_$sub"
      agg(spark.read.parquet(s"$dir/$sub")).write.mode("overwrite").parquet(tmp)
      val dst = new java.io.File(s"$dir/$sub")
      org.apache.commons.io.FileUtils.deleteDirectory(dst)
      require(new java.io.File(tmp).renameTo(dst), s"compaction rename failed: $sub")
    }
    fold("df", d => d.groupBy(col("shingle")).agg(sum(col("df")).as("df")))
    fold("stats", d => d.agg(sum(col("ts")).as("ts"), sum(col("n_docs")).as("n_docs")))
  }

  /** Serve top-k retrieval from the standing index: merge the df/stats
    * segments (vocabulary-keyed aggregation; never corpus-sized rework),
    * band df to [2, [[Bm25DfCap]]], score with [[bm25TopkFrom]]. The one
    * driver-side read is the merged 1-row stats (bounded control plane —
    * the probe stride needs N). */
  def queryBm25Index(spark: SparkSession, dir: String): DataFrame = {
    val post = spark.read.parquet(s"$dir/postings")
    val dfTab = spark.read.parquet(s"$dir/df")
      .groupBy(col("shingle")).agg(sum(col("df")).as("df"))
      .filter(col("df").between(2, Bm25DfCap))
    val stats = spark.read.parquet(s"$dir/stats")
      .agg(sum(col("ts")).as("__ts"), sum(col("n_docs")).as("__n"))
    val nDocs = stats.select(col("__n")).first().getLong(0)
    val idx = post.join(dfTab, "shingle").transform(CacheScope.cached)
    bm25TopkFrom(idx, stats, SimilarityQueries.probeStride(nDocs))
  }

  /** Standing-index directory for `text_bm25_indexed`: built into a temp
    * dir at most once per session and version of the fixture, held in the
    * [[CacheScope]] session store (live while the directory exists; the
    * store deletes it when the entry goes stale or the session ends). */
  private def bm25IndexFor(spark: SparkSession, sfDir: String): String =
    CacheScope.sessionArtifact("bm25_index", sfDir, spark) {
      val dir = java.nio.file.Files.createTempDirectory("graft_bm25_idx").toString
      buildBm25Index(spark, sfDir, dir)
      dir
    }(dir => new java.io.File(dir).isDirectory,
      dir => { org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)); () })

  val queries: Map[String, Q] = Map(
    // Canonical text normalization — the first stage of every training
    // pipeline: lowercase, non-alphanumerics to spaces, whitespace
    // collapse, trim. Pure codegen'd projection (no shuffle, runs at scan
    // parallelism); the md5 fingerprint of the normalized form is the key
    // normalization-aware exact dedup would group on.
    "text_normalize" -> ((spark, sfDir) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), norm.as("norm_text"), md5(norm).as("norm_fp"),
          size(split(norm, " ")).cast("long").as("n_tokens"))
    }),
    // Inverted index (3-word shingle → sorted doc-id posting list): the
    // retrieval structure behind search and RAG corpus serving, built on
    // the SAME shingles the dedup pipeline hashes ([[DedupQueries
    // .shingles]]). The df range filter is computed FIRST and joined back,
    // so posting arrays only ever materialize for terms inside the cap —
    // boilerplate shingles (df > 20) are dropped before any collect_set
    // state exists, the same bounded-fan-out discipline as the LSH band
    // and chunk-overlap caps.
    "text_inverted_index" -> ((spark, sfDir) => {
      val dt = DedupQueries.shingles(Tables.load(spark, sfDir, "documents"))
        .transform(CacheScope.cached)
      val kept = dt.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 20))
      // grouping stays (shingle, df): r13 tried groupBy(shingle) so the
      // aggregation could reuse a sort-merge join's partitioning, but
      // measured at sf10 it made the planner SMJ the full shingle frame
      // (1671 MB shuffled) where this shape broadcast-joins `kept` and
      // exchanges only the df-banded survivors (1123 MB) — the df filter
      // drops singleton and boilerplate shingles before anything wide
      // moves, which is worth more than the exchange reuse
      dt.join(kept, "shingle")
        .groupBy(col("shingle"), col("df"))
        .agg(expr("array_join(transform(sort_array(collect_set(doc_id))," +
          " x -> cast(x AS string)), ',')").as("postings"))
    }),
    // BM25 phrase retrieval over the shingle inverted index: a ~200-doc
    // probe batch (the probeStride serving shape) retrieves df-capped
    // posting lists of 3-gram shingle terms — unigrams are useless on this
    // corpus (31-word vocabulary ⇒ every token is in every doc) and on any
    // web corpus their posting lists are the stop-word problem; 3-gram
    // terms give ~n distinct phrases with df-bounded lists, so the
    // candidate join is Σ_{t∈probe} df(t) ≤ 54·Bm25DfCap rows per probe
    // regardless of corpus size. Scoring is Okapi BM25's defining parts —
    // tf saturation (k1) and document-length normalization (b) — with the
    // house exact-rational idf N/df in place of Robertson's log form
    // (same parity rule as text_tfidf_top3: one IEEE division of exact
    // integers is bit-stable across engines, ln() drifts in the last ulp).
    // Per-term contributions quantize to micro-unit BIGINTs BEFORE the
    // per-candidate sum, so the aggregate is order-free integer addition —
    // immune to Spark's nondeterministic partition-sum order.
    "text_bm25_topk" -> ((spark, sfDir) => {
      val stride = SimilarityQueries.probeStride(Tables.countOf(spark, sfDir, "documents"))
      // one corpus pass: per-doc shingle tf, the doc's term count carried
      val post = bm25Postings(Tables.load(spark, sfDir, "documents"))
        .transform(CacheScope.cached) // feeds the df table, stats AND the index
      val kept = post.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, Bm25DfCap))
      val idx = post.join(kept, "shingle").transform(CacheScope.cached)
      // N over ALL docs (memoized countOf — no rescan), total-term sum
      // over shingled docs derived from the CACHED per-doc frame (docs
      // with <3 tokens are absent from `post` and contribute dl=0), so
      // the corpus is tokenized exactly once.
      val stats = post.select(col("doc_id"), col("dl")).dropDuplicates("doc_id")
        .agg(coalesce(sum(col("dl")), lit(0L)).as("__ts"))
        .withColumn("__n", lit(Tables.countOf(spark, sfDir, "documents")))
      bm25TopkFrom(idx, stats, stride)
    }),
    // PERSISTED BM25 SERVING: identical scores to the inline build on the
    // same corpus (the `ann_ivf_topk` index-parity rule — the oracle row
    // is the same SQL), but the query path reads a STANDING parquet index
    // (postings + append-only df/stats segments, built once per session
    // into a temp dir dropped at releaseSession) and never re-tokenizes
    // the corpus: the plan's only FileScans are index files. Deltas
    // absorb in O(batch) via [[appendToBm25Index]]; `Bm25Spec` pins
    // build+append == full-rebuild equality and the no-rescan plan shape.
    "text_bm25_indexed" -> ((spark, sfDir) =>
      queryBm25Index(spark, bm25IndexFor(spark, sfDir))),
    "text_stats" -> ((spark, sfDir) => {
      val toks = Hashing.tokens(col("text"))
      Tables.load(spark, sfDir, "documents")
        .withColumn("__toks", toks)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(col("__toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("__toks"))).cast("long").as("n_uniq_tokens"),
          aggregate(col("__toks"), lit(0L), (acc, t) => acc + length(t)).as("sum_token_len"),
          size(expr(s"regexp_extract_all(lower(text), '$SubwordPattern', 0)")).cast("long")
            .as("n_subword_tokens"))
    }),
    "text_quality" -> ((spark, sfDir) => {
      val toks = Hashing.tokens(col("text"))
      val d = Tables.load(spark, sfDir, "documents")
        .withColumn("__toks", toks)
        .withColumn("__n", size(col("__toks")))
        .withColumn("__stop", markerHits(col("__toks"), Stopwords))
        .withColumn("__uniq", size(array_distinct(col("__toks"))))
      d.select(
          col("doc_id"),
          col("__n").cast("long").as("n_tokens"),
          col("__stop").cast("long").as("n_stopwords"),
          // each component is int/int once → deterministic doubles
          (col("__stop").cast("double") / col("__n")).as("stop_ratio"),
          (col("__uniq").cast("double") / col("__n")).as("uniq_ratio"),
          (least(length(col("text")), lit(400)).cast("double") / lit(400.0)).as("len_score"))
        .withColumn("quality_ok",
          col("stop_ratio") >= 0.02 && col("uniq_ratio") >= 0.1 && col("len_score") >= 0.2)
    }),
    "text_langid" -> ((spark, sfDir) => {
      val d = Tables.load(spark, sfDir, "documents")
        .withColumn("__toks", Hashing.tokens(col("text")))
      val scored = LangMarkers.foldLeft(d) { case (df, (lang, words)) =>
        df.withColumn(s"score_$lang", markerHits(col("__toks"), words))
      }
      // argmax with fixed precedence en > de > fr > es
      val best = LangMarkers.map(_._1).foldRight(lit("und")) { (lang, rest) =>
        val isMax = LangMarkers.map(_._1).filter(_ != lang)
          .map(o => col(s"score_$lang") >= col(s"score_$o")).reduce(_ && _)
        when(col(s"score_$lang") > 0 && isMax, lit(lang)).otherwise(rest)
      }
      scored.select(col("doc_id") +:
        LangMarkers.map { case (l, _) => col(s"score_$l").cast("long").as(s"score_$l") } :+
        best.as("detected_lang"): _*)
    }),
    // Mixed-language detection — the per-document refinement of langid a
    // cleaning pipeline actually filters on: rank the marker scores, keep
    // the top two, flag documents whose runner-up keeps >= 1/3 of the
    // winner's evidence. The unpivot is a narrow 4-way explode; the rank
    // window partitions by doc_id, so the shuffle is one doc-keyed pass.
    "text_lang_mix" -> ((spark, sfDir) => {
      val d = Tables.load(spark, sfDir, "documents")
        .withColumn("__toks", Hashing.tokens(col("text")))
      val scored = LangMarkers.foldLeft(d) { case (df, (lang, words)) =>
        df.withColumn(s"score_$lang", markerHits(col("__toks"), words))
      }
      val entries = array(LangMarkers.zipWithIndex.map { case ((l, _), i) =>
        struct(lit(l).as("lang"), col(s"score_$l").cast("long").as("score"),
          lit(i).as("prec"))
      }: _*)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("prec"))
      scored.select(col("doc_id"), explode(entries).as("__e"))
        .select(col("doc_id"), col("__e.lang").as("lang"),
          col("__e.score").as("score"), col("__e.prec").as("prec"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(
          coalesce(max(when(col("rn") === 1 && col("score") > 0, col("lang"))),
            lit("und")).as("lang1"),
          coalesce(max(when(col("rn") === 1, col("score"))), lit(0L)).as("n1"),
          coalesce(max(when(col("rn") === 2 && col("score") > 0, col("lang"))),
            lit("none")).as("lang2"),
          coalesce(max(when(col("rn") === 2 && col("score") > 0, col("score"))),
            lit(0L)).as("n2"))
        .withColumn("is_mixed", col("n2") > 0 && col("n2") * 3 >= col("n1"))
    }),
    "text_fingerprint" -> ((spark, sfDir) => {
      val normed = regexp_replace(lower(col("text")), " +", " ")
      Tables.load(spark, sfDir, "documents")
        .select(
          col("doc_id"),
          md5(normed).as("fp_md5"),
          Hashing.hash64(normed).as("fp_hash64"))
    }),
    // corpus-level term frequencies: explode → hash aggregate → top-k
    "text_top_terms" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "documents")
        .select(explode(Hashing.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)),
    // Context-window chunking: overlapping 64-token chunks at stride 48 —
    // the stage that turns documents into training-context rows. Pure
    // per-row array arithmetic (sequence → slice), no shuffle; each chunk
    // carries its fingerprint for downstream chunk-level dedup.
    "text_chunks" -> ((spark, sfDir) =>
      chunkFingerprints(Tables.load(spark, sfDir, "documents"))),
    // n-gram LM fluency proxy (count-based): a document's mean corpus
    // frequency over its bigram occurrences — text built from common
    // bigrams scores high, gibberish scores near 1. The "language model"
    // is the corpus's own bigram count table (one aggregation); scoring is
    // an equi-join back onto the occurrences and a per-doc aggregate. The
    // score stays the exact rational sum_freq/n_bigrams (one IEEE division
    // of exact integers) — no log smoothing to drift in the last ulp.
    // Docs with <2 tokens have no bigrams and drop out, as in the oracle.
    "text_lm_fluency" -> ((spark, sfDir) => fluencyFrame(spark, sfDir)),
    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per-language
    // head/middle/tail thirds by LM score. The scale-correct form: tercile
    // THRESHOLDS come from the deterministic bottom-k sample sketch (O(k)
    // state per language — never a per-language global sort, which is what
    // ntile() would plan), then every document is labeled by a stateless
    // comparison against the ≤#languages-row broadcast threshold table.
    // The md5-hash-ranked sample makes the estimated terciles themselves
    // deterministic, so even the APPROXIMATE buckets are oracle-checked
    // hash-exact — same discipline as the sketch family.
    "text_ccnet_buckets" -> ((spark, sfDir) => {
      val docs = Tables.load(spark, sfDir, "documents")
      // feeds the threshold sketch AND the label join — pin (eager
      // checkpoint) so the two-shuffle fluency scorer runs exactly once
      val fl = fluencyFrame(spark, sfDir)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .transform(CacheScope.pinned)
      val thr = fl.groupBy(col("lang"))
        .agg(graft.functions.SampleSketch.bottomKSample(
          col("fluency"), col("doc_id").cast("string"), CcnetSampleK).as("samp"))
        .select(col("lang"),
          expr("element_at(samp, cast((size(samp) - 1) div 3 as int) + 1)").as("t33"),
          expr("element_at(samp, cast(((size(samp) - 1) * 2) div 3 as int) + 1)").as("t66"))
      fl.join(broadcast(thr), "lang")
        .select(col("doc_id"), col("lang"), col("fluency"),
          when(col("fluency") >= col("t66"), "head")
            .when(col("fluency") >= col("t33"), "middle")
            .otherwise("tail").as("bucket"))
    }),
    // TF-IDF relevance: per-doc term frequency joined to the (small) global
    // document-frequency table, top-3 terms per doc. The idf stays the
    // exact rational tf·N/df — one IEEE division of exact integers, so both
    // engines agree bit-for-bit where a log-based idf would drift in the
    // last ulp. df is ≤ |vocabulary| rows → broadcast; only the tf
    // aggregation shuffles the corpus.
    "text_tfidf_top3" -> ((spark, sfDir) => {
      val docs = Tables.load(spark, sfDir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(Hashing.tokens(col("text"))).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
        .transform(CacheScope.cached) // feeds the df aggregation AND the scoring join
      val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("__n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("word"))
      tf.join(broadcast(dfreq), Seq("word"))
        .crossJoin(broadcast(n))
        .withColumn("score", (col("tf") * col("__n")).cast("double") / col("df"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("word"), col("tf"), col("df"), col("score"), col("rn"))
    }),
    // Repetition-based quality signal (Gopher-style): the fraction of
    // 5-gram occurrences that are duplicates within the document — high
    // dup_frac marks boilerplate/degenerate text. Narrow per-row array
    // arithmetic, no shuffle.
    "text_repetition" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "documents")
        .withColumn("__toks", Hashing.tokens(col("text")))
        .withColumn("__grams", when(size(col("__toks")) >= 5,
          expr("transform(sequence(0, size(__toks)-5), i -> concat_ws(' ', slice(__toks, i+1, 5)))"))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)")))
        .select(col("doc_id"),
          size(col("__toks")).cast("long").as("n_tokens"),
          size(col("__grams")).cast("long").as("n_grams"),
          size(array_distinct(col("__grams"))).cast("long").as("n_distinct_grams"),
          when(size(col("__grams")) > 0,
            (size(col("__grams")) - size(array_distinct(col("__grams")))).cast("double")
              / size(col("__grams")))
            .otherwise(lit(0.0)).as("dup_frac"))),
    // Gopher quality ruleset (Rae et al. 2021, "Scaling Language Models:
    // Methods, Analysis & Insights from Training Gopher", table A1) — the
    // word-level subset that is non-degenerate on this single-line corpus:
    // word-count band, mean-word-length band, alphabetic-word fraction,
    // the DISTINCT-stop-word floor (table A1 requires >= 2 distinct stop
    // words — occurrence counts would let "the the" pass), and the
    // repeated-top-n-gram character fractions
    // (the boilerplate signal text_repetition's dup-5-gram frac cannot
    // see: one dominant bigram pasted everywhere). The whole query is ONE
    // narrow per-row pass — the top-n-gram mass comes from a sorted-scan
    // `aggregate` over the doc's own gram array (longest equal run in
    // sort order = the max count; the first gram to reach it is the
    // lexicographically smallest, so strictly-greater updates reproduce
    // the (count desc, gram asc) tie-break), O(L log L) per doc, zero
    // shuffles at any corpus size. The first cut of this query did the
    // same with explode → groupBy(doc, gram) → per-doc window: same
    // answer, but two corpus-sized shuffles — 52 s at sf10 vs ~8 s
    // narrow. The oracle keeps the relational window form (independent
    // formulation, same tie-break), so the scan rewrite is itself
    // hash-gated. Every gopher_ok gate compares exact integers via
    // cross-multiplication (0.8 → 5·alpha ≥ 4·words, 0.20 → 5·mass ≤
    // chars, 0.18 → 50·mass ≤ 9·chars); the reported fractions are
    // display-only one-division doubles.
    "text_gopher_rules" -> ((spark, sfDir) => {
      def topMassCol(n: Int): Column = {
        val grams = expr(
          s"sort_array(transform(sequence(0, size(__toks) - $n), " +
            s"i -> concat_ws(' ', slice(__toks, i+1, $n))))")
        val scanned = aggregate(
          when(size(col("__toks")) >= n, grams)
            .otherwise(expr("CAST(array() AS ARRAY<STRING>)")),
          struct(lit("").as("prev"), lit(0L).as("cur"),
            lit(0L).as("bc"), lit("").as("bg")),
          (acc, g) => {
            val cur = when(g === acc("prev"), acc("cur") + 1L).otherwise(lit(1L))
            struct(g.as("prev"), cur.as("cur"),
              when(cur > acc("bc"), cur).otherwise(acc("bc")).as("bc"),
              when(cur > acc("bc"), g).otherwise(acc("bg")).as("bg"))
          })
        (scanned("bc") * length(scanned("bg"))).cast("long")
      }
      Tables.load(spark, sfDir, "documents")
        .withColumn("__toks", Hashing.tokens(col("text")))
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(col("__toks")).cast("long").as("n_words"),
          aggregate(col("__toks"), lit(0L), (a, t) => a + length(t)).as("__sum_len"),
          // \A..\z, not ^..$: Java's '$' also matches before a trailing
          // newline, DuckDB's RE2 '$' anchors to end-of-text — the \A/\z
          // pair full-matches identically in both engines
          size(filter(col("__toks"), t => t.rlike("\\A[a-z]+\\z"))).cast("long").as("__n_alpha"),
          distinctMarkerHits(col("__toks"), Stopwords).cast("long").as("n_stop"),
          topMassCol(2).as("__m2"), topMassCol(3).as("__m3"))
        .select(
          col("doc_id"), col("n_words"), col("n_chars"),
          (col("__sum_len").cast("double") / greatest(col("n_words"), lit(1L)))
            .as("mean_word_len"),
          (col("__n_alpha").cast("double") / greatest(col("n_words"), lit(1L)))
            .as("alpha_frac"),
          col("n_stop"),
          (col("__m2").cast("double") / greatest(col("n_chars"), lit(1L)))
            .as("top2_char_frac"),
          (col("__m3").cast("double") / greatest(col("n_chars"), lit(1L)))
            .as("top3_char_frac"),
          (col("n_words") >= GopherMinWords && col("n_words") <= GopherMaxWords &&
            col("__sum_len") >= lit(3L) * col("n_words") &&
            col("__sum_len") <= lit(10L) * col("n_words") &&
            lit(5L) * col("__n_alpha") >= lit(4L) * col("n_words") &&
            col("n_stop") >= GopherMinStop &&
            lit(5L) * col("__m2") <= col("n_chars") &&
            lit(50L) * col("__m3") <= lit(9L) * col("n_chars")).as("gopher_ok"))
    }),
    // PII scrubbing: the fixture corpus carries no PII, so the query
    // INJECTS synthetic contact strings derived from doc_id (the same
    // construction runs in the oracle — the Mutations pattern), then
    // detects and redacts them. Patterns stay in the Java∩RE2 common
    // subset; the redacted text is fingerprinted so a scrubber bug fails
    // the hash gate.
    "text_pii_scrub" -> ((spark, sfDir) => {
      val EmailPat = "[a-z0-9.]+@[a-z0-9.]+"
      val PhonePat = "555-[0-9]+"
      Tables.load(spark, sfDir, "documents")
        .withColumn("__t", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example call 555-"), (col("doc_id") * 7 % 10000).cast("string")))
        .select(col("doc_id"),
          size(expr(s"regexp_extract_all(__t, '$EmailPat', 0)")).cast("long").as("n_emails"),
          size(expr(s"regexp_extract_all(__t, '$PhonePat', 0)")).cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(col("__t"), EmailPat, "<EMAIL>"),
            PhonePat, "<PHONE>")).as("redacted_fp"))
    }),
    // n-gram novelty: the fraction of a document's distinct 8-grams that
    // appear in NO other document — the inverse of decontamination
    // (pipeline_decontaminate) and the per-document signal dedup thresholds
    // are tuned against. Grams travel as md5 fingerprints (32-byte shuffle
    // keys, never raw text); the gram frame is persisted because it feeds
    // both the df aggregation and the scoring join. Novelty is the exact
    // rational n_novel/n_grams — one IEEE division of exact integers.
    "text_novelty" -> ((spark, sfDir) => {
      val grams = Tables.load(spark, sfDir, "documents")
        .withColumn("__toks", Hashing.tokens(col("text")))
        .filter(size(col("__toks")) >= 8)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(__toks) - 8), " +
            "i -> md5(concat_ws(' ', slice(__toks, i+1, 8))))"))).as("g8"))
        .transform(CacheScope.cached)
      // A gram with df = 1 exists in exactly ONE document, so min(doc_id)
      // over its group IS that document — the per-doc novel count falls
      // out of the df aggregation itself and the corpus-sized
      // grams ⋈ df8 scoring join disappears (guide §2.4: the join only
      // ever re-attached information the aggregation already had). Both
      // remaining aggregations are map-side combinable; n_grams per doc
      // comes from a second cheap pass over the cached gram frame. Same
      // exact integers, oracle row unchanged.
      val df8 = grams.groupBy(col("g8"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("__d"))
      val novel = df8.filter(col("df") === 1)
        .groupBy(col("__d")).agg(count(lit(1)).as("n_novel"))
        .select(col("__d").as("doc_id"), col("n_novel"))
      grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        .join(novel, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty", col("n_novel").cast("double") / col("n_grams"))
    }),
    // Exact heavy hitters (terms with > 1/64 of all token occurrences)
    // WITHOUT a full-corpus `GROUP BY term` shuffle: a Misra-Gries summary
    // ([[graft.functions.FreqSketch]], fixed 128-counter state per partial)
    // nominates a guaranteed-superset candidate array, candidates are
    // re-counted exactly (only candidate-matching tokens shuffle — ≤ 128
    // distinct keys), and the threshold applies to exact counts. The
    // sketch's order-dependent internal counts never reach the output, so
    // the result is the exact heavy-hitter set, hash-identical to the
    // oracle's brute-force GROUP BY ... HAVING.
    // Tokenizer-pipeline vocabulary construction: the corpus's token
    // frequency table cut at a minimum count, each surviving token given a
    // dense id by (count desc, token) rank. The count aggregation is the
    // distributed pass; the rank is a globalRowNumber (range-repartition
    // + partitioned rank + offsets) because a min-count cut does NOT
    // bound a web-corpus vocabulary — 10^7-10^8 distinct tokens survive
    // at 100 TB, so the id assignment itself must stay distributed.
    "text_vocab" -> ((spark, sfDir) => vocab(spark, sfDir)),
    // The ENCODE step over that vocabulary: each document's first 16
    // token positions mapped to vocab ids (OOV -> 0) through one
    // broadcast join of the small vocab table — long format (doc, pos,
    // id), the layout a training-shard writer consumes.
    "text_encode_ids" -> ((spark, sfDir) => {
      val v = vocab(spark, sfDir).select(col("token"), col("vocab_id"))
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"),
          posexplode(slice(Hashing.tokens(col("text")), 1, 16)).as(Seq("pos", "token")))
        .join(broadcast(v), Seq("token"), "left_outer")
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          coalesce(col("vocab_id"), lit(0L)).as("token_id"))
    }),
    // BPE TOKENIZER TRAINER — the real merge loop (the vocab family's next
    // rung past min-count cuts): words become character sequences, then
    // [[BpeMerges]] rounds of count-all-adjacent-pairs → merge the
    // arg-max pair corpus-wide — the algorithm behind every production
    // subword vocabulary, run as an iterative relational trainer like
    // k-means/PageRank. Per round the only data-sized work is one
    // lead-window pass + one keyed aggregation over the DISTINCT-WORD
    // symbol table (weighted by word frequency — corpus size only enters
    // through the one-off word count), so rounds cost O(vocab × word len)
    // regardless of corpus rows: the standard trainer economics. Greedy
    // left-to-right overlap resolution (aaa + (a,a) → [aa, a]) is done
    // relationally: candidate positions group into consecutive runs and
    // even offsets win — no sequential fold, no UDF. The DuckDB oracle
    // replays all rounds as unrolled CTEs, so the ITERATIVE trainer is
    // hash-checked end to end, tiebreaks included (count desc, pair asc).
    "text_bpe_merges" -> ((spark, sfDir) => bpeTrainShared(spark, sfDir)._1),
    // BPE APPLY — the trained tokenizer used: the trainer's final symbol
    // table IS each distinct word's segmentation, so encoding the corpus
    // is one per-word subword count over that table joined back onto the
    // per-doc word multiset. Per-doc output: how many words and how many
    // subword tokens the trained vocab yields — the sequence-length
    // number a training pipeline actually budgets by. All work after
    // training is O(vocab) + one corpus shuffle; the oracle replays the
    // identical 8 unrolled merge rounds and the same rollup.
    "text_bpe_encode" -> ((spark, sfDir) => {
      val syms = bpeTrainShared(spark, sfDir)._2
      val seg = syms.groupBy(col("word")).agg(count(lit(1)).as("n_syms"))
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), explode(Hashing.tokens(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n_occ"))
        .join(seg, "word")
        .groupBy(col("doc_id"))
        .agg(sum(col("n_occ")).as("n_words"),
          sum(col("n_occ") * col("n_syms")).as("n_subwords"))
    }),
    // BPE FERTILITY — subwords-per-word by language, the standard readout
    // of how well a trained vocabulary serves each language (a tokenizer
    // trained on an English-heavy corpus fragments Chinese; fertility is
    // the number multilingual tokenizer papers report, e.g. the XLM-R and
    // NLLB analyses). Same trained segmentation as `text_bpe_encode`,
    // rolled up per LANGUAGE instead of per document: integer n_words /
    // n_subwords sums, one IEEE division at the very end. Post-training
    // cost is O(vocab) + one corpus shuffle; the languages frame is
    // control-plane sized at any corpus scale.
    "text_bpe_fertility" -> ((spark, sfDir) => {
      val syms = bpeTrainShared(spark, sfDir)._2
      val seg = syms.groupBy(col("word")).agg(count(lit(1)).as("n_syms"))
      Tables.load(spark, sfDir, "documents")
        .select(col("lang"), explode(Hashing.tokens(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("n_occ"))
        .join(seg, "word")
        .groupBy(col("lang"))
        .agg(sum(col("n_occ")).as("n_words"),
          sum(col("n_occ") * col("n_syms")).as("n_subwords"))
        .withColumn("fertility",
          col("n_subwords").cast("double") / col("n_words").cast("double"))
    }),
    // BPE DECODE — the symbol-table inverse that completes the tokenizer
    // lifecycle (train → encode → fertility → decode): a word's trained
    // segmentation concatenated back in position order must reproduce the
    // word exactly — the lossless-round-trip property every production
    // tokenizer guarantees (detokenize(tokenize(x)) == x). One keyed
    // aggregation over the trained symbol table (vocab-sized, not
    // corpus-sized — decode cost is independent of corpus rows);
    // `array_sort` over (pos, sym) structs makes the collect_list order
    // deterministic, mirroring the oracle's ORDER BY pos. The `roundtrip`
    // column is asserted all-true by spec AND hash-checked by the oracle.
    "text_bpe_decode" -> ((spark, sfDir) => {
      val syms = bpeTrainShared(spark, sfDir)._2
      syms.groupBy(col("word"))
        .agg(count(lit(1)).as("n_syms"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("sym")))),
            x => x.getField("sym")), "").as("decoded"))
        .withColumn("roundtrip", col("decoded") === col("word"))
    }),
    "text_heavy_hitters" -> ((spark, sfDir) => {
      val words = Tables.load(spark, sfDir, "documents")
        .select(explode(Hashing.tokens(col("text"))).as("word"))
        .transform(CacheScope.cached) // tokenized once: sketch pass + candidate count pass
      val cands = words
        .agg(FreqSketch.mgCandidates(col("word"), 127).as("c"))
        .select(explode(col("c")).as("word"))
      val total = words.agg(count(lit(1)).as("__total"))
      words.join(broadcast(cands), Seq("word"), "left_semi")
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") * 64 > col("__total"))
        .select(col("word"), col("cnt"))
    })
  )

  /** The BPE merge-loop trainer (shared by `text_bpe_merges` and the
    * encode stage): [[BpeMerges]] relational rounds over the distinct-word
    * symbol table. Returns (merge table, final symbol table) — the latter
    * is each word's trained segmentation. */
  def bpeTrain(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    bpeTrain(spark, sfDir, sampleOneIn = 1L)

  /** The trained tokenizer as a SESSION-SCOPED STANDING ARTIFACT — the
    * standing-index tier ([[CacheScope.sessionPinnedAll]]; same precedent as
    * the dedup survivor frame, the fitted quality-classifier weights and
    * the persisted BM25 index): four registry queries (`text_bpe_merges`,
    * `text_bpe_encode`, `text_bpe_fertility`, `text_bpe_decode`) consume
    * the SAME deterministic 8-round training run, and a real pipeline
    * trains its tokenizer once and serves it to every consumer — it never
    * re-runs the merge loop per encode job. The memoized frames are the
    * 8-row merge table and the distinct-word segmentation table (O(distinct
    * words × word length) narrow rows — the same order as the survivor
    * frame's O(corpus docs)), memoized under ONE key: a miss on either
    * retrains both once, so they never come from different runs. Both
    * survive `releaseAll` and drop at `releaseSession`. The first consumer
    * in a session pays the full training cost; results are bit-identical
    * for every consumer (the unrolled-CTE oracle replays the rounds per
    * query, so any divergence fails the hash gate). */
  def bpeTrainShared(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val Seq(merges, syms) = CacheScope.sessionPinnedAll("bpe", sfDir, spark) {
      val (m, s) = bpeTrain(spark, sfDir); Seq(m, s)
    }
    (merges, syms)
  }

  /** [[bpeTrain]] with the 100 TB sampling knob: `sampleOneIn` > 1 trains
    * on a deterministic hash-threshold sample of the DISTINCT-WORD frame
    * (hash64(word) mod k == 0 — the engine's standard sampler, the
    * domain-caps/priority-sample routing), keeping each surviving word's
    * full corpus frequency. This is how production subword trainers run at
    * corpus scale anyway — merge statistics come from a word-frequency
    * sample, not every distinct string — so the knob turns the trainer's
    * cost from O(distinct words) to O(distinct words / k) per round
    * without touching the round structure. Default 1 = full corpus, the
    * oracle-replayed geometry (the unrolled-CTE oracle pins it
    * bit-for-bit); the sampled geometry's determinism is pinned by
    * `BpeSampledSpec`. */
  def bpeTrain(spark: SparkSession, sfDir: String,
      sampleOneIn: Long): (DataFrame, DataFrame) = {
      val wfAll = Tables.load(spark, sfDir, "documents")
        .select(explode(Hashing.tokens(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val wf = CacheScope.pinned(
        if (sampleOneIn > 1L)
          wfAll.filter(pmod(Hashing.hash64(col("word")), lit(sampleOneIn)) === 0L)
        else wfAll)
      // the symbol table CARRIES each word's corpus frequency (one long
      // column) so the per-round pair count is a plain map-side-combinable
      // aggregation — the old shape re-joined wf every round (8 shuffled
      // joins per training run, guide §2.4 "remove shuffles outright")
      var syms = CacheScope.pinned(wf
        .select(col("word"), col("freq"), posexplode(
          expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
          .as(Seq("p0", "sym")))
        .select(col("word"), col("freq"),
          (col("p0") + 1).cast("long").as("pos"), col("sym")))
      var merges: DataFrame = null
      val wPos = org.apache.spark.sql.expressions.Window
        .partitionBy(col("word")).orderBy(col("pos"))
      // running frame over the same (word, pos) spec: consecutive Window
      // operators on one partitioning/order share a single exchange+sort
      val wRun = wPos.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      var exhausted = false
      for (step <- 1 to BpeMerges if !exhausted) {
        val wn = syms.withColumn("nxt", lead(col("sym"), 1).over(wPos))
        val cnts = wn.filter(col("nxt").isNotNull)
          .groupBy(col("sym"), col("nxt"))
          .agg(sum(col("freq")).as("cnt"))
        // arg-max pair, ONE row: -cnt asc = cnt desc, then (l, r) asc —
        // the deterministic tiebreak the oracle's ORDER BY replays.
        // Collected EAGERLY (it's one tiny row): a degenerate corpus can
        // exhaust adjacent pairs before BpeMerges rounds, where min over
        // the empty frame is a NULL struct but the oracle's
        // ORDER BY … LIMIT 1 yields NO row — the trainer must stop, not
        // emit all-NULL merge rows.
        val bestRow = cnts
          .agg(min(struct((-col("cnt")).as("negcnt"),
            col("sym").as("l"), col("nxt").as("r"))).as("__b"))
          .head()
        if (bestRow.isNullAt(0)) exhausted = true
        else {
          val b = bestRow.getStruct(0)
          val (l, r, cnt) = (b.getString(1), b.getString(2), -b.getLong(0))
          val stepRow = wf.sparkSession.range(1).select(
            lit(step).cast("long").as("step"),
            lit(l).as("left_sym"), lit(r).as("right_sym"),
            lit(l + r).as("merged"), lit(cnt).as("pair_count"))
          merges = if (merges == null) stepRow else merges.unionByName(stepRow)
          // greedy left-to-right merge: candidate starts, consecutive runs,
          // even offsets survive; winners emit l||r, their successors drop,
          // positions renumber. All of it is window arithmetic over the ONE
          // (word, pos) spec — a candidate's run starts right after the
          // last non-candidate position (`__brk`, a running max), so
          // "even offset within the run" is (pos - __brk - 1) % 2 == 0 and
          // "successor of a winner" is lag(__valid). The old shape computed
          // run starts on a filtered frame and joined the winner list back
          // twice — 2 extra window exchanges + 2 shuffled joins per round
          // for the same rows (guide §2.4); equality is oracle-gated by the
          // unrolled-CTE replay of every round.
          val isCand = coalesce(col("sym") === lit(l) && col("nxt") === lit(r),
            lit(false))
          val next = wn
            .withColumn("__f", isCand)
            .withColumn("__brk",
              max(when(!col("__f"), col("pos"))).over(wRun))
            .withColumn("__valid", col("__f") &&
              ((col("pos") - coalesce(col("__brk"), lit(0L)) - 1) % 2 === 0))
            .withColumn("__drop",
              coalesce(lag(col("__valid"), 1).over(wPos), lit(false)))
            .filter(!col("__drop"))
            .select(col("word"), col("freq"), col("pos"),
              when(col("__valid"), lit(l + r)).otherwise(col("sym")).as("sym"))
            .withColumn("pos", row_number().over(wPos).cast("long"))
            .select(col("word"), col("freq"), col("pos"), col("sym"))
          // round N's table is dead once round N+1's pin materializes —
          // release it NOW so trainer residency is bounded at 2 symbol
          // tables, not BpeMerges of them piling up until releaseAll
          val prev = syms
          syms = CacheScope.pinned(next)
          CacheScope.releasePin(prev)
        }
      }
      val mergesOut =
        if (merges != null) merges
        else wf.sparkSession.range(0).select(
          lit(0L).as("step"), lit("").as("left_sym"), lit("").as("right_sym"),
          lit("").as("merged"), lit(0L).as("pair_count"))
      (mergesOut, syms)
  }

  /** Shared by text_vocab and text_encode_ids: min-count-2 vocabulary
    * with dense rank ids (count desc, token asc). A min-count cut does
    * NOT bound web-corpus vocabulary (10^7-10^8 distinct tokens at
    * 100 TB), so the rank must never run as one global window task:
    * [[EventsQueries.globalRowNumber]] range-repartitions on the
    * (cnt desc, token) total order, ranks within partitions in
    * parallel, and adds per-partition offsets — identical ids, no
    * single-partition sort. */
  private def vocab(spark: org.apache.spark.sql.SparkSession, sfDir: String) = {
    val counts = Tables.load(spark, sfDir, "documents")
      .select(explode(Hashing.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    EventsQueries.globalRowNumber(
      counts, Seq(col("cnt").desc, col("token")), "vocab_id")
  }

  private val toksE = Hashing.tokensSql("text")

  private val vocabSql: String =
    s"""SELECT token, cnt,
       |  CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS vocab_id
       |FROM (
       |  SELECT token, COUNT(*) AS cnt
       |  FROM (SELECT unnest($toksE) AS token FROM documents) w
       |  GROUP BY token HAVING COUNT(*) >= 2) c""".stripMargin

  /** Unrolled-CTE replay of the BPE merge loop, one block per round (the
    * ann_kmeans oracle pattern): lead-window pair counts, ORDER-BY-LIMIT-1
    * arg-max (the engine's struct-min tiebreak), run-grouped greedy merge,
    * renumber. Every CTE is MATERIALIZED — DuckDB inlines plain CTEs per
    * reference, and this chain references each level several times, which
    * would re-evaluate the whole prefix exponentially. */
  private val bpeCtesStr: String = {
    val iters = (1 to BpeMerges).map { t =>
      s"""wn$t AS MATERIALIZED (
         |  SELECT word, pos, sym,
         |         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |  FROM syms${t - 1}),
         |pair$t AS MATERIALIZED (
         |  SELECT w.sym AS l, w.nxt AS r, CAST(SUM(f.freq) AS BIGINT) AS cnt
         |  FROM wn$t w JOIN wf f USING (word)
         |  WHERE w.nxt IS NOT NULL GROUP BY w.sym, w.nxt),
         |best$t AS MATERIALIZED (
         |  SELECT l, r, cnt FROM pair$t ORDER BY cnt DESC, l, r LIMIT 1),
         |cr$t AS MATERIALIZED (
         |  SELECT w.word, w.pos,
         |         ROW_NUMBER() OVER (PARTITION BY w.word ORDER BY w.pos) AS crn
         |  FROM wn$t w, best$t b WHERE w.sym = b.l AND w.nxt = b.r),
         |valid$t AS MATERIALIZED (
         |  SELECT word, pos FROM (
         |    SELECT word, pos,
         |           MIN(pos) OVER (PARTITION BY word, pos - crn) AS rmin
         |    FROM cr$t) x WHERE (pos - rmin) % 2 = 0),
         |syms$t AS MATERIALIZED (
         |  SELECT word,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
         |         sym
         |  FROM (
         |    SELECT w.word, w.pos,
         |           CASE WHEN v.pos IS NOT NULL THEN b.l || b.r ELSE w.sym END AS sym
         |    FROM wn$t w
         |    CROSS JOIN best$t b
         |    LEFT JOIN valid$t v ON v.word = w.word AND v.pos = w.pos
         |    LEFT JOIN valid$t v2 ON v2.word = w.word AND v2.pos + 1 = w.pos
         |    WHERE v2.pos IS NULL) y)""".stripMargin
    }.mkString(",\n")
    s"""WITH wf AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS freq FROM (
       |    SELECT unnest($toksE) AS word FROM documents) t
       |  WHERE length(word) >= 2 GROUP BY word),
       |syms0 AS MATERIALIZED (
       |  SELECT word, CAST(i AS BIGINT) AS pos, substr(word, CAST(i AS INT), 1) AS sym
       |  FROM (SELECT word, unnest(range(1, length(word) + 1)) AS i FROM wf) z),
       |$iters""".stripMargin
  }

  private val bpeMergesSqlStr: String = {
    val selects = (1 to BpeMerges).map(t =>
      s"SELECT CAST($t AS BIGINT) AS step, l AS left_sym, r AS right_sym, " +
        s"l || r AS merged, cnt AS pair_count FROM best$t")
      .mkString("\nUNION ALL\n")
    s"$bpeCtesStr\n$selects"
  }

  // the trained segmentation (syms after the last merge round) rolled up
  // onto the per-doc word multiset — identical recurrence, different
  // final select (assumes the corpus sustains all rounds, which every
  // oracle fixture does; the engine stops early only on degenerate input)
  private val bpeEncodeSqlStr: String =
    s"""$bpeCtesStr,
       |seg AS (
       |  SELECT word, COUNT(*) AS n_syms FROM syms$BpeMerges GROUP BY word),
       |dwf AS (
       |  SELECT doc_id, word, COUNT(*) AS n_occ FROM (
       |    SELECT doc_id, unnest($toksE) AS word FROM documents) t
       |  WHERE length(word) >= 2 GROUP BY doc_id, word)
       |SELECT doc_id, CAST(SUM(n_occ) AS BIGINT) AS n_words,
       |  CAST(SUM(n_occ * n_syms) AS BIGINT) AS n_subwords
       |FROM dwf JOIN seg USING (word) GROUP BY doc_id""".stripMargin

  // the trained segmentation rolled up per LANGUAGE: same recurrence, same
  // seg CTE, per-(lang, word) multiset, integer sums then one division
  private val bpeFertilitySqlStr: String =
    s"""$bpeCtesStr,
       |seg AS (
       |  SELECT word, COUNT(*) AS n_syms FROM syms$BpeMerges GROUP BY word),
       |lwf AS (
       |  SELECT lang, word, COUNT(*) AS n_occ FROM (
       |    SELECT lang, unnest($toksE) AS word FROM documents) t
       |  WHERE length(word) >= 2 GROUP BY lang, word)
       |SELECT lang, CAST(SUM(n_occ) AS BIGINT) AS n_words,
       |  CAST(SUM(n_occ * n_syms) AS BIGINT) AS n_subwords,
       |  CAST(CAST(SUM(n_occ * n_syms) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(n_occ) AS BIGINT) AS DOUBLE) AS fertility
       |FROM lwf JOIN seg USING (word) GROUP BY lang""".stripMargin

  // the decode inverse: concatenate each word's trained segmentation in
  // position order — the round-trip equality is itself a compared column
  private val bpeDecodeSqlStr: String =
    s"""$bpeCtesStr,
       |dec AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_syms,
       |         string_agg(sym, '' ORDER BY pos) AS decoded
       |  FROM syms$BpeMerges GROUP BY word)
       |SELECT word, n_syms, decoded, (decoded = word) AS roundtrip FROM dec""".stripMargin

  private val bm25TopkSqlStr: String =
    s"""WITH t AS (SELECT doc_id, $toksE AS toks FROM documents),
         |d AS (SELECT doc_id, greatest(len(toks) - 2, 0) AS dl, toks FROM t),
         |g AS (SELECT COUNT(*) AS n, SUM(dl) AS ts FROM d),
         |p AS (SELECT doc_id, dl, unnest(list_transform(range(0, dl),
         |        i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS shingle
         |      FROM d),
         |tf AS (SELECT doc_id, dl, shingle, COUNT(*) AS tf
         |       FROM p GROUP BY doc_id, dl, shingle),
         |kept AS (SELECT shingle, COUNT(*) AS df FROM tf GROUP BY shingle
         |         HAVING COUNT(*) BETWEEN 2 AND $Bm25DfCap),
         |idx AS (SELECT tf.doc_id, tf.dl, tf.shingle, tf.tf, kept.df
         |        FROM tf JOIN kept USING (shingle)),
         |c AS (
         |  SELECT pr.doc_id AS probe_id, ix.doc_id AS neighbor_id,
         |    CAST(floor(((CAST(g.n AS DOUBLE) / ix.df) *
         |      ((CAST(ix.tf AS DOUBLE) * $Bm25K1Plus1) /
         |       (CAST(ix.tf AS DOUBLE) + $Bm25K1 *
         |        ($Bm25OneMinusB + $Bm25B *
         |         ((CAST(ix.dl AS DOUBLE) * CAST(g.n AS DOUBLE))
         |           / CAST(g.ts AS DOUBLE)))))) * 1000000.0 + 0.5) AS BIGINT)
         |      AS c_micro
         |  FROM idx pr JOIN idx ix USING (shingle), g
         |  WHERE pr.doc_id % greatest(100, g.n // 200) = 0
         |    AND ix.doc_id <> pr.doc_id),
         |s AS (SELECT probe_id, neighbor_id, COUNT(*) AS n_shared,
         |        CAST(SUM(c_micro) AS BIGINT) AS bm25_micro
         |      FROM c GROUP BY probe_id, neighbor_id)
         |SELECT probe_id, neighbor_id, n_shared, bm25_micro, rank FROM (
         |  SELECT s.*, ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY bm25_micro DESC, neighbor_id) AS rank FROM s) z
         |WHERE rank <= $Bm25TopK""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "text_bpe_merges" -> bpeMergesSqlStr,
    "text_bpe_encode" -> bpeEncodeSqlStr,
    "text_bpe_fertility" -> bpeFertilitySqlStr,
    "text_bpe_decode" -> bpeDecodeSqlStr,
    "text_inverted_index" ->
      s"""WITH dt AS (
         |  SELECT DISTINCT doc_id, unnest(list_transform(
         |      range(0, greatest(len(toks) - 2, 0)),
         |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS shingle
         |  FROM (SELECT doc_id, $toksE AS toks FROM documents) t),
         |kept AS (
         |  SELECT shingle, COUNT(*) AS df FROM dt GROUP BY shingle
         |  HAVING COUNT(*) BETWEEN 2 AND 20)
         |SELECT d.shingle, k.df,
         |  string_agg(CAST(d.doc_id AS VARCHAR), ',' ORDER BY d.doc_id) AS postings
         |FROM dt d JOIN kept k ON k.shingle = d.shingle
         |GROUP BY d.shingle, k.df""".stripMargin,
    // replays the Spark chain with identically-parenthesized IEEE
    // arithmetic; the only doubles live between exact-integer inputs and
    // the micro-unit floor, so the sums compare as exact BIGINTs.
    // text_bm25_indexed shares the SAME oracle: the index-parity rule —
    // the persisted-index path must reproduce the inline build exactly.
    "text_bm25_topk" -> bm25TopkSqlStr,
    "text_bm25_indexed" -> bm25TopkSqlStr,
    "text_normalize" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |         ' +', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text, md5(norm_text) AS norm_fp,
        |  CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_tokens
        |FROM n""".stripMargin,
    "text_stats" ->
      s"""SELECT doc_id,
         |  length(text) AS n_chars,
         |  len($toksE) AS n_tokens,
         |  len(list_distinct($toksE)) AS n_uniq_tokens,
         |  CAST(list_sum(list_transform($toksE, t -> length(t))) AS BIGINT) AS sum_token_len,
         |  len(regexp_extract_all(lower(text), '$SubwordPattern', 0)) AS n_subword_tokens
         |FROM documents""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id, n_tokens, n_stopwords,
         |  CAST(n_stopwords AS DOUBLE) / n_tokens AS stop_ratio,
         |  CAST(n_uniq AS DOUBLE) / n_tokens AS uniq_ratio,
         |  CAST(least(n_chars, 400) AS DOUBLE) / 400.0 AS len_score,
         |  (CAST(n_stopwords AS DOUBLE) / n_tokens >= 0.02
         |    AND CAST(n_uniq AS DOUBLE) / n_tokens >= 0.1
         |    AND CAST(least(n_chars, 400) AS DOUBLE) / 400.0 >= 0.2) AS quality_ok
         |FROM (
         |  SELECT doc_id, length(text) AS n_chars, len($toksE) AS n_tokens,
         |         ${markerHitsSql(toksE, Stopwords)} AS n_stopwords,
         |         len(list_distinct($toksE)) AS n_uniq
         |  FROM documents) t""".stripMargin,
    "text_langid" -> {
      val scores = LangMarkers
        .map { case (l, ws) => s"${markerHitsSql(toksE, ws)} AS score_$l" }
        .mkString(",\n  ")
      val langs = LangMarkers.map(_._1)
      val best = langs.foldRight("'und'") { (lang, rest) =>
        val isMax = langs.filter(_ != lang).map(o => s"score_$lang >= score_$o").mkString(" AND ")
        s"CASE WHEN score_$lang > 0 AND $isMax THEN '$lang' ELSE $rest END"
      }
      s"""SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         |  $best AS detected_lang
         |FROM (SELECT doc_id,
         |  $scores
         |FROM documents) t""".stripMargin
    },
    "text_lang_mix" -> {
      val scores = LangMarkers
        .map { case (l, ws) => s"${markerHitsSql(toksE, ws)} AS score_$l" }
        .mkString(",\n  ")
      val unpivot = LangMarkers.zipWithIndex
        .map { case ((l, _), i) =>
          s"SELECT doc_id, '$l' AS lang, score_$l AS score, $i AS prec FROM sc" }
        .mkString("\nUNION ALL\n")
      s"""WITH sc AS (
         |  SELECT doc_id,
         |  $scores
         |  FROM documents),
         |e AS (
         |$unpivot
         |),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, prec) AS rn
         |  FROM e)
         |SELECT doc_id,
         |  COALESCE(MAX(CASE WHEN rn = 1 AND score > 0 THEN lang END), 'und') AS lang1,
         |  COALESCE(MAX(CASE WHEN rn = 1 THEN score END), 0) AS n1,
         |  COALESCE(MAX(CASE WHEN rn = 2 AND score > 0 THEN lang END), 'none') AS lang2,
         |  COALESCE(MAX(CASE WHEN rn = 2 AND score > 0 THEN score END), 0) AS n2,
         |  COALESCE(MAX(CASE WHEN rn = 2 AND score > 0 THEN score END), 0) > 0 AND
         |  COALESCE(MAX(CASE WHEN rn = 2 AND score > 0 THEN score END), 0) * 3 >=
         |  COALESCE(MAX(CASE WHEN rn = 1 THEN score END), 0) AS is_mixed
         |FROM r GROUP BY doc_id""".stripMargin
    },
    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fp_md5,
         |  ${Hashing.hash64Sql("regexp_replace(lower(text), ' +', ' ', 'g')")} AS fp_hash64
         |FROM documents""".stripMargin,
    "text_top_terms" ->
      s"""SELECT token, COUNT(*) AS n
         |FROM (SELECT unnest($toksE) AS token FROM documents) t
         |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    "text_chunks" -> {
      val (ctes, select) = chunkCtes("documents")
      "WITH " + ctes.map { case (n, q) => s"$n AS (\n$q\n)" }.mkString(",\n") +
        "\n" + select
    },
    "text_lm_fluency" ->
      s"""WITH t AS (SELECT doc_id, $toksE AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
         |           i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS bg
         |  FROM t WHERE len(toks) >= 2),
         |lm AS (SELECT bg, COUNT(*) AS c FROM g GROUP BY bg)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(c) AS BIGINT) AS sum_freq,
         |  CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) / COUNT(*) AS fluency
         |FROM g JOIN lm USING (bg)
         |GROUP BY doc_id""".stripMargin,
    // the tercile thresholds replay the deterministic bottom-k sample
    // (md5-hash-ranked, same recurrence as sketch_sample_quantiles), then
    // the same stateless labeling — integer '//' index arithmetic keeps
    // the tercile positions exact in both engines
    "text_ccnet_buckets" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksE AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
         |           i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS bg
         |  FROM t WHERE len(toks) >= 2),
         |lm AS (SELECT bg, COUNT(*) AS c FROM g GROUP BY bg),
         |fl AS (
         |  SELECT doc_id,
         |    CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) / COUNT(*) AS fluency
         |  FROM g JOIN lm USING (bg) GROUP BY doc_id),
         |fll AS (
         |  SELECT fl.doc_id, t.lang, fl.fluency
         |  FROM fl JOIN t ON t.doc_id = fl.doc_id),
         |h AS (SELECT lang, fluency,
         |        ${Hashing.hash60Sql("CAST(doc_id AS VARCHAR)")} AS hv
         |      FROM fll),
         |d2 AS (SELECT DISTINCT lang, hv, fluency FROM h),
         |r AS (
         |  SELECT lang, fluency,
         |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, fluency) AS rn
         |  FROM d2),
         |s AS (
         |  SELECT lang, list(fluency ORDER BY fluency) AS samp, COUNT(*) AS m
         |  FROM r WHERE rn <= $CcnetSampleK GROUP BY lang),
         |thr AS (
         |  SELECT lang, samp[1 + (m - 1) // 3] AS t33,
         |         samp[1 + (2 * (m - 1)) // 3] AS t66
         |  FROM s)
         |SELECT f.doc_id, f.lang, f.fluency,
         |  CASE WHEN f.fluency >= thr.t66 THEN 'head'
         |       WHEN f.fluency >= thr.t33 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM fll f JOIN thr USING (lang)""".stripMargin,
    "text_tfidf_top3" ->
      s"""WITH w AS (SELECT doc_id, unnest($toksE) AS word FROM documents),
         |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
         |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
         |n AS (SELECT COUNT(*) AS n FROM documents)
         |SELECT doc_id, word, tf, df, score, rn FROM (
         |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
         |         CAST(tf.tf * n.n AS DOUBLE) / df.df AS score,
         |         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
         |           ORDER BY CAST(tf.tf * n.n AS DOUBLE) / df.df DESC, tf.word) AS rn
         |  FROM tf JOIN df USING (word), n) t
         |WHERE rn <= 3""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksE AS toks FROM documents),
         |g AS (SELECT doc_id, len(toks) AS n_tokens,
         |  CASE WHEN len(toks) >= 5
         |       THEN list_transform(range(len(toks)-4),
         |              i -> array_to_string(toks[i+1:i+5], ' '))
         |       ELSE [] END AS grams
         |  FROM t)
         |SELECT doc_id, n_tokens, len(grams) AS n_grams,
         |  len(list_distinct(grams)) AS n_distinct_grams,
         |  CASE WHEN len(grams) > 0
         |       THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
         |       ELSE 0.0 END AS dup_frac
         |FROM g""".stripMargin,
    // same integer-cross-multiplied gates as the engine; the top-n-gram
    // mass replays the (count desc, gram asc) row_number tie-break
    "text_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, length(text) AS n_chars, $toksE AS toks FROM documents),
         |b AS (
         |  SELECT doc_id, n_chars, len(toks) AS n_words,
         |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
         |    len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$$'))) AS n_alpha,
         |    ${distinctMarkerHitsSql("toks", Stopwords)} AS n_stop
         |  FROM t),
         |g2 AS (
         |  SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
         |           i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS g
         |  FROM t WHERE len(toks) >= 2),
         |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
         |m2 AS (SELECT doc_id, c * length(g) AS m FROM (
         |  SELECT doc_id, g, c,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
         |  FROM c2) r2 WHERE rn = 1),
         |g3 AS (
         |  SELECT doc_id, unnest(list_transform(range(len(toks) - 2),
         |           i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS g
         |  FROM t WHERE len(toks) >= 3),
         |c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
         |m3 AS (SELECT doc_id, c * length(g) AS m FROM (
         |  SELECT doc_id, g, c,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
         |  FROM c3) r3 WHERE rn = 1)
         |SELECT b.doc_id, b.n_words, b.n_chars,
         |  CAST(b.sum_len AS DOUBLE) / greatest(b.n_words, 1) AS mean_word_len,
         |  CAST(b.n_alpha AS DOUBLE) / greatest(b.n_words, 1) AS alpha_frac,
         |  b.n_stop,
         |  CAST(COALESCE(m2.m, 0) AS DOUBLE) / greatest(b.n_chars, 1) AS top2_char_frac,
         |  CAST(COALESCE(m3.m, 0) AS DOUBLE) / greatest(b.n_chars, 1) AS top3_char_frac,
         |  (b.n_words >= $GopherMinWords AND b.n_words <= $GopherMaxWords
         |   AND b.sum_len >= 3 * b.n_words AND b.sum_len <= 10 * b.n_words
         |   AND 5 * b.n_alpha >= 4 * b.n_words
         |   AND b.n_stop >= $GopherMinStop
         |   AND 5 * COALESCE(m2.m, 0) <= b.n_chars
         |   AND 50 * COALESCE(m3.m, 0) <= 9 * b.n_chars) AS gopher_ok
         |FROM b LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)""".stripMargin,
    "text_pii_scrub" ->
      """WITH t AS (
        |  SELECT doc_id, text || ' contact user' || doc_id ||
        |         '@mail.example call 555-' || (doc_id * 7 % 10000) AS tt
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(tt, '[a-z0-9.]+@[a-z0-9.]+')) AS n_emails,
        |  len(regexp_extract_all(tt, '555-[0-9]+')) AS n_phones,
        |  md5(regexp_replace(regexp_replace(tt, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |      '555-[0-9]+', '<PHONE>', 'g')) AS redacted_fp
        |FROM t""".stripMargin,
    "text_novelty" ->
      s"""WITH t AS (SELECT doc_id, $toksE AS toks FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id, unnest(list_transform(range(len(toks) - 7),
         |           i -> md5(array_to_string(toks[i+1:i+8], ' ')))) AS g8
         |  FROM t WHERE len(toks) >= 8),
         |d AS (SELECT g8, COUNT(*) AS df FROM g GROUP BY g8)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         |    / COUNT(*) AS novelty
         |FROM g JOIN d USING (g8)
         |GROUP BY doc_id""".stripMargin,
    "text_vocab" -> vocabSql,
    "text_encode_ids" ->
      s"""WITH v AS (
         |$vocabSql
         |),
         |tok AS (
         |  SELECT doc_id, pos - 1 AS pos, toks[pos] AS token
         |  FROM (SELECT doc_id, $toksE AS toks FROM documents) t,
         |       LATERAL unnest(range(1, least(len(toks), 16) + 1)) r(pos))
         |SELECT tok.doc_id, CAST(tok.pos AS BIGINT) AS pos,
         |  COALESCE(v.vocab_id, 0) AS token_id
         |FROM tok LEFT JOIN v ON v.token = tok.token""".stripMargin,
    // brute-force equivalent of the sketch-pruned heavy-hitter plan: the
    // MG candidate stage is invisible to the result (guaranteed superset +
    // exact re-count), so the oracle needs no sketch arithmetic at all
    "text_heavy_hitters" ->
      s"""WITH w AS (SELECT unnest($toksE) AS word FROM documents),
         |t AS (SELECT COUNT(*) AS total FROM w)
         |SELECT word, COUNT(*) AS cnt
         |FROM w, t
         |GROUP BY word, t.total
         |HAVING COUNT(*) * 64 > t.total""".stripMargin
  )
}
