package graft

/** The navigable index over the driver contract (round-13 VERDICT ask
  * #6): every `SparkEntry.queries` entry assigned to one operator
  * family, generated as REGISTRY.md. The families mirror SURVEY §2's
  * sections; the no-drift guarantee is structural, not editorial —
  * RegistrySpec fails whenever (a) a registered query has no family,
  * (b) a family lists a query that no longer exists, or (c) the
  * committed REGISTRY.md differs from what this object generates.
  *
  * {{{ sbt "runMain graft.Registry"  # rewrites REGISTRY.md }}}
  */
object Registry {

  /** family name -> exact member set (explicit, not prefix-guessed:
    * a new query fails the spec until it is placed deliberately). */
  val families: Seq[(String, Set[String])] = Seq(
    "reference benchmark shapes (§2.9)" -> Set(
      "b_order", "b_join_order", "b_join_select", "b_big_join_select",
      "b_join", "b_triple_join", "b_limit", "b_limit_sorted", "b_selection"),
    "ingestion, formats & schema drift (§2.2)" -> Set(
      "q_local", "q_read_csv", "q_read_json", "q_read_npy", "q_read_pickle",
      "q_read_arrow", "q_read_orc", "q_read_avro", "q_read_avro_evolved",
      "q_read_avro_ts", "q_read_avro_nested", "q_read_avro_filtered",
      "q_stream_avro", "q_avro_sink", "q_avro_write_dsv2",
      "q_avro_drift_report", "q_avro_compact",
      "q_json_quarantine",
      "q_csv_quarantine", "q_materialize", "q_schema_drift",
      "q_schema_drift_report"),
    "projection, selection & column ops (§2.3-2.4)" -> Set(
      "q_filter", "q_predicates", "q_arith", "q_bitops", "q_distinct",
      "q_setitem", "q_rename", "q_astype", "q_mask", "q_replace", "q_clip",
      "q_diff"),
    "joins (§2.5)" -> Set(
      "q_join", "q_join_left", "q_join_right", "q_join_outer", "q_join_semi",
      "q_join_anti", "q_multijoin", "q_cross", "q_merge_ind", "q_suffixes"),
    "aggregation & grouping (§2.6)" -> Set(
      "q_agg", "q_aggrows", "q_groupmulti", "q_anyall", "q_prod", "q_colagg",
      "q_nunique", "q_nunique_all", "q_std", "q_quantile", "q_mode",
      "q_describe", "q_corr", "q_group_filter", "q_group_topk", "q_idxmax",
      "q_cube", "q_rollup", "q_grouping_sets", "q_crosstab", "q_pivot",
      "q_value_counts"),
    "reshaping & set ops (§2.6)" -> Set(
      "q_union", "q_concat_outer", "q_melt", "q_dummies", "q_explode",
      "q_intersect", "q_except", "q_transform"),
    "ordering & top-k (§2.8)" -> Set(
      "q_sort_limit", "q_nlargest", "q_nsmallest"),
    "missing data & cleaning (§2.7)" -> Set(
      "q_dropna", "q_fillna", "q_combine_first", "q_duplicated", "q_interp"),
    "strings, dates & nested (§2.7)" -> Set(
      "q_strops", "q_regex", "q_str_join", "q_json_extract", "q_datetime"),
    "binning (§2.7)" -> Set("q_cut", "q_qcut", "q_qcut_group"),
    "analytic windows & time (§2.11)" -> Set(
      "q_cumsum", "q_cummax", "q_ranklag", "q_rank_pct", "q_rolling",
      "q_rolling_time", "q_rolling_var", "q_window_events",
      "q_window_sliding", "q_sessionize", "q_interval_join",
      "q_asof", "q_asof_fwd", "q_asof_near", "q_range_join"),
    "deduplication (§2.11)" -> Set(
      "q_dedup_key", "q_dedup_text", "q_dedup_incr", "q_dedup_lines",
      "q_jaccard_pairs", "q_minhash_lsh", "q_simhash", "q_simhash_pairs",
      "q_edit_pairs", "q_shared_spans", "q_cluster_dedup", "q_dedup_clusters",
      "q_decontaminate", "q_decontaminated", "q_semdedup",
      "q_image_dedup", "q_image_neardup", "q_audio_neardup", "q_embed_neardup"),
    "similarity search / ANN (§2.11)" -> Set(
      "q_cosine_topk", "q_ann_lsh", "q_ann_ivf", "q_ann_pq", "q_ann_ivfpq",
      "q_ann_int8", "q_sql_vector", "q_quant_err"),
    "sketches (§2.11)" -> Set(
      "q_hll_incr", "q_kll_quantiles", "q_heavy_hitters", "q_sketches_err"),
    "text analysis & curation (§2.11)" -> Set(
      "q_textstats", "q_langid", "q_quality", "q_quality_model",
      "q_fingerprint", "q_nfc", "q_redact", "q_html_extract",
      "q_strip_boilerplate", "q_strip_known", "q_repetition", "q_vocab",
      "q_tfidf", "q_lm_coverage", "q_corpus_profile"),
    "tokenization, chunking & packing (§2.11)" -> Set(
      "q_bpe_vocab", "q_bpe_tokens", "q_chunk", "q_unchunk",
      "q_pack", "q_pack_offsets"),
    "sampling, splits & mixing (§2.11)" -> Set(
      "q_split", "q_stratsample", "q_sample", "q_sample_k",
      "q_weighted_sample", "q_leakage_split", "q_interleave", "q_mix",
      "q_budget_mix", "q_select_budget", "q_domain_cap", "q_shuffle"),
    "snapshots & incremental (§2.11)" -> Set(
      "q_lake_versions", "q_lake_versions_part", "q_lake_prune",
      "q_lake_optimize", "q_lake_sql", "q_lake_delete", "q_lake_prune_str",
      "q_lake_update", "q_lake_merge", "q_lake_incr", "q_lake_consume",
      "q_snapshot_diff", "q_upsert", "q_content_fp", "q_file_manifest",
      "q_parquet_stats", "q_prune_sim", "q_prune_report"),
    "multimodal (§2.11)" -> Set(
      "q_multimodal", "q_multimodal_img", "q_multimodal_wav",
      "q_multimodal_adpcm", "q_video_frames", "q_gif_frames",
      "q_media_quarantine"),
    "scale & skew machinery (§2.11)" -> Set(
      "q_salted", "q_bloom_join"),
    "data-quality gate (§2.11)" -> Set("q_checks", "q_checks_flag"),
    "distribution drift (§2.11)" -> Set(
      "q_drift_bins", "q_drift_report", "q_drift_by_source",
      "q_drift_windows", "q_drift_scored", "q_drift_spec"),
    "pipeline compositions (§2.11)" -> Set(
      "q_pipeline", "q_pipeline_audit", "q_pipeline_curate",
      "q_pipeline_incr", "q_pipeline_lake", "q_pipeline_lake_stream",
      "q_pipeline_lake_vstream", "q_pipeline_media", "q_pipeline_release",
      "q_pipeline_web"),
  )

  def familyOf(name: String): Option[String] =
    families.collectFirst { case (f, s) if s(name) => f }

  /** The generated markdown — REGISTRY.md's full content. */
  def render(): String = {
    val names = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    val sb = new StringBuilder
    sb ++= "# Query registry\n\n"
    sb ++= s"GENERATED by `sbt \"runMain graft.Registry\"` — do not edit by hand.\n"
    sb ++= s"${names.size} queries in `SparkEntry.queries`, ${(names & oracled).size} with a DuckDB\n"
    sb ++= "oracle in `SparkEntry.oracleSql` (un-oracled entries are marked `rows-only`).\n"
    sb ++= "Families mirror SURVEY.md §2; RegistrySpec fails on any drift between\n"
    sb ++= "this file, the family map, and the live registry.\n\n"
    sb ++= "| family | n | queries |\n|---|---|---|\n"
    for ((fam, members) <- families) {
      val present = members.toSeq.sorted
      val cells = present.map { q =>
        if (oracled(q)) s"`$q`" else s"`$q` (rows-only)"
      }.mkString(", ")
      sb ++= s"| $fam | ${present.size} | $cells |\n"
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("REGISTRY.md"), render())
    println(s"wrote REGISTRY.md (${SparkEntry.queries.size} queries)")
  }
}
