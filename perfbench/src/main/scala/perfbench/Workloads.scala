package perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Which queries the `queries` workload runs, and the query families the
  * traced run sums per-layer metrics over.
  *
  * The workload times every query except those in [[notTimed]]: the
  * relational operator core (`Queries.defs` but two), the
  * materialized-view queries, and the core of the text, similarity and
  * graph queries (every caller of an iterative propagate loop, both
  * prefix-join queries, BPE encode and its `_check` twin, MinHash
  * near-duplicates, IVF and PQ ANN, PCA, triangles and market basket).
  * The other analytics and text queries are left out to fit the
  * benchmark's run-time budget: a pass over all 157 takes ~45 s warm
  * at local[4]. A query added later is timed unless it
  * is listed here; WorkloadsSpec pins that the list names only existing
  * queries and that every family names only timed queries. */
object Workloads {
  val notTimed: Seq[String] = Seq(
    // Queries.defs: two cheap relational queries whose operators the
    // timed q_conform_schema and aggregate queries cover, left out to
    // make room for the MinHash and PCA queries
    "q_cast_schema", "q_distinct",
    // QueriesAnalytics beyond the materialized-view and graph queries
    "q_window_suite", "q_cube", "q_set_ops_all", "q_full_outer",
    "q_cross_join", "q_monthly_revenue", "q_date_arith", "q_string_funcs",
    "q_value_histogram", "q_sample_hash", "q_collect_agg",
    "q_approx_percentiles", "q_approx_percentiles_check",
    "q_sample_pctl_replay", "q_percentiles", "q_gap_fill", "q_decimal_agg",
    "q_snapshot_diff", "q_scd2", "q_outlier_iqr", "q_mad_outliers",
    "q_supplier_share", "q_sliding_window", "q_range_join", "q_grouping_sets",
    "q_unpivot", "q_linreg", "q_cohort_retention", "q_event_funnel",
    "q_topk_per_group", "q_ewma",
    // QueriesText beyond the core
    "q_dedup_exact", "q_fingerprint", "q_text_quality", "q_quality_gate",
    "q_repetition_filter", "q_doc_pack", "q_pii_scrub", "q_decontaminate",
    "q_domain_mix", "q_temperature_mix", "q_lang_id", "q_token_count",
    "q_bpe_merges", "q_bpe_merges_check", "q_bpe_step_replay",
    "q_bpe_step2_replay", "q_sentence_stats", "q_array_funcs", "q_word_freq",
    "q_heavy_hitters", "q_cms_estimate", "q_stratified_sample",
    "q_minhash_replay", "q_simhash_neardup",
    "q_simhash_replay", "q_embed_neardup", "q_ann_topk", "q_ann_lsh",
    "q_lsh_replay", "q_ann_pq_check", "q_pq_replay", "q_ann_ivf_check",
    "q_ivf_replay", "q_kmeans_replay", "q_ivf_refined_replay",
    "q_embed_quantize", "q_embed_pca_check", "q_jl_project",
    "q_power_iter_replay", "q_power_iter2_replay", "q_tfidf_keywords",
    "q_approx_distinct", "q_approx_distinct_check", "q_kmv_replay",
    "q_multimodal_features", "q_multimodal_decode", "q_multimodal_frames",
    "q_session_window", "q_minhash_shingles", "q_shingle_replay",
    "q_sessionize_stateful", "q_sessionize", "q_chunk_dedup", "q_cdc_chunks",
    "q_winnow", "q_winnow_overlap", "q_substring_dedup",
    "q_bloom_decontaminate", "q_source_overlap", "q_split_assign",
    "q_char_bigram_lm", "q_char_diversity", "q_line_dedup", "q_oov_rate",
    "q_bm25_topk", "q_rrf_fusion")

  def all: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  def queries: Seq[String] = {
    val skip = notTimed.toSet
    all.filterNot(skip)
  }

  /** Families of timed queries whose summed time (and jobs) make a
    * per-layer metric; the first word of each metric name is its layer. */
  val families: Map[String, Seq[String]] = Map(
    // every caller of an iterative propagate loop
    "operators.propagate" -> Seq(
      "q_pagerank", "q_pagerank_converged", "q_label_prop",
      "q_dedup_clusters", "q_cluster_sizes", "q_dedup_survivors",
      "q_semdedup"),
    "text.prefix_join" -> Seq("q_prefix_jaccard", "q_ngram_jaccard"),
    "text.bpe" -> Seq("q_bpe_encode", "q_bpe_encode_check"),
    "text.minhash" -> Seq("q_minhash_neardup"),
    "similarity.ann" -> Seq("q_ann_ivf", "q_ann_pq"),
    "similarity.dimreduce" -> Seq("q_embed_pca"),
    // a query that compares an operator with its exact twin
    "Checks.check" -> Seq("q_bpe_encode_check"),
    // aggregates the materialized-view rewrite should serve
    "plans.mv" -> Seq(
      "q_mv_daily_sales", "q_mv_brand_qty", "q_mv_brand_qty_having",
      "q_mv_dept_distinct"))

  /** Scan roots that mark a plan as served from a materialized summary
    * (the query layer keeps its summaries in `graft_mv_*` dirs). */
  val mvRootMarker = "graft_mv_"

  /** Root paths of the file scans in a query's optimized plan: a plan
    * the MV rewrite served scans its summary's root. */
  def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
}
