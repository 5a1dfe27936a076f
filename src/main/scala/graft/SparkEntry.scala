package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries. Every entry in [[queries]]
  * that is SQL-expressible has matching DuckDB oracle SQL in [[oracleSql]];
  * the driver hash-compares the two on identical parquet inputs.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    DiffQueries.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    DiffQueries.queries ++ Relational.queries ++ EventsQueries.queries ++
      TextQueries.queries ++ DedupQueries.queries ++ SimilarityQueries.queries ++
      Multimodal.queries ++ RenderQueries.queries ++ SketchQueries.queries ++
      PipelineQueries.queries ++ LinkageQueries.queries

  /** The names [[Bench]] times and [[PlanDump]] dumps by default
    * (`SPARK_GRAFT_QUERIES` picks others for Bench): a fixed subset of
    * [[queries]]. The full registry runs in Verify. */
  def benchQueries: Seq[String] = Seq(
    "diff_lineitem", "diff_orders", "diff_report",
    "q1_pricing_summary", "q3_topk_revenue", "q5_region_volume",
    "q6_sql_passthrough", "q_window_topn",
    "events_sessionize", "events_tumbling",
    "text_stats", "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "ann_cosine_topk", "ann_ivf_topk", "ann_lsh_near_dup", "mm_decode_features",
    "sketch_kmv_groups", "pipeline_clean_corpus", "events_asof_join",
    "events_range_join", "events_interval_join", "text_heavy_hitters",
    "text_tfidf_top3", "q_bloom_semi_join", "mm_audio_features",
    "q2_min_cost_supp", "dedup_chunk_overlap", "pipeline_pack_sequences",
    "events_funnel", "diff_scd2_orders",
    "dedup_prefix_jaccard", "events_gapfill", "text_inverted_index",
    "diff_incremental_agg", "profile_orders", "q17_small_qty",
    "diff_three_way", "diff_changefeed", "dedup_containment",
    "text_novelty", "events_paths", "pipeline_epoch_shuffle",
    "diff_merkle_pruned", "dedup_incremental", "q_basket_pairs",
    "events_session_window", "ann_pq_topk", "catalog_fk_discovery",
    "dq_rules_report", "events_rolling_1h",
    "dedup_triangles", "dedup_bfs_hops", "events_changepoint",
    "sketch_kmv_jaccard", "mm_video_features", "ann_hybrid_rrf",
    "events_attribution", "events_ab_test", "sketch_sample_quantiles",
    "dedup_pagerank", "ann_kmeans", "ann_ivf_sampled", "ann_ivfadc_topk",
    "ann_hybrid_indexed", "er_blocked_matches",
    "dedup_label_prop", "sketch_cms_terms", "sketch_hll_sources",
    "stream_tumbling", "sketch_kmv_setops", "stream_sliding",
    "sketch_hll_merge", "pipeline_temperature_mix", "q_basket_triples",
    "stream_cdc", "text_bpe_merges", "dedup_semantic", "pipeline_unimax_mix",
    "pipeline_dsir_select", "mm_phash_dedup", "pipeline_filter_cascade",
    "pipeline_manifest_diff", "stream_cascade_funnel", "stream_neardup",
    "text_ccnet_buckets", "pipeline_length_buckets", "mm_video_shared_frames",
    "text_bpe_encode", "pipeline_doremi_weights", "text_bpe_fertility",
    "diff_dist_drift", "dedup_substring_spans", "ann_matryoshka_topk",
    "ann_matryoshka_ivf", "ann_imi_topk", "pipeline_quality_classifier",
    "stream_quality_classifier", "pipeline_curation_e2e", "stream_dist_drift",
    "text_bpe_decode", "diff_semantic_drift", "stream_semantic_drift",
    "pipeline_decontaminate_fuzzy", "pipeline_classifier_calibration",
    "text_bm25_topk", "text_bm25_indexed",
    "text_gopher_rules", "pipeline_domain_caps", "ann_recall_report",
    "pipeline_corpus_report", "dedup_span_excise", "ann_bq_topk")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    DiffQueries.oracleSql ++ Relational.oracleSql ++ EventsQueries.oracleSql ++
      TextQueries.oracleSql ++ DedupQueries.oracleSql ++ SimilarityQueries.oracleSql ++
      Multimodal.oracleSql ++ RenderQueries.oracleSql ++ SketchQueries.oracleSql ++
      PipelineQueries.oracleSql ++ LinkageQueries.oracleSql
}
