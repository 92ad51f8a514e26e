package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}

/** Benchmark main: runs the headline query set on
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line per the driver
  * contract. Each query is executed twice and the faster run reported
  * (first run pays JIT + parquet footer reads; the warm number is the
  * engine's steady-state throughput, which is what the baseline
  * comparison measures).
  */
object Bench {

  /** The full batch registry minus (a) constant-frame trivia whose
    * outputs don't depend on table data (oct_levels, oct_adjust_dims,
    * oct_mipmap_dims, oct_transform*, src_volume_levels — they
    * measure only session overhead) and (b) the streaming entries
    * (their collect+MemoryStream driver harness would measure the
    * bounded-drain scaffolding, not the engine).
    */
  val headline: Seq[String] = Seq(
    "q1_agg", "q3_topk", "q5_join", "q7_nations", "q17_avg_qty", "q10_returns",
    "q4_priority", "q6_revenue", "q8_mktshare", "q9_profit", "q13_custdist",
    "q14_promo", "q16_suppcnt", "q18_large", "q19_disjunct",
    "q15_topsupp", "q22_global", "q12_shipmode", "q2_mincost",
    "q11_impstock", "q20_excess", "q21_waiting",
    "q_window", "q_sessionize", "q_session_native", "q_tumbling", "q_asof", "q_asof_native", "q_asof_fwd", "q_asof_fwd_native", "q_asof_nearest", "q_asof_tolerance", "q_asof_tolerance_native", "q_range_join", "q_interval_join", "q_skew_join", "q_bucket_join", "q_runtime_filter",
    "q_gapfill", "q_ohlc", "q_ewma", "q_zorder_skip", "q_dpp",
    "ts_anomaly", "ts_seasonal", "ts_changepoint",
    "q_funnel", "q_retention", "q_match_recognize", "q_match_recognize_win",
    "q_scd2",
    "q_pivot", "q_unpivot", "q_variant", "q_lateral", "q_range_frame", "q_corr", "q_autocorr", "q_json_extract",
    "q_distinct", "q_table_profile", "q_rank_family", "q_setops", "q_recursive", "q_semijoin", "q_rollup", "q_cube", "q_grouping_sets", "q_topk_orders",
    "oct_pyramid", "oct_pyramid_delta", "oct_histogram", "oct_rescale_u8", "oct_down_arthur",
    "oct_down_2ndmax", "oct_down_area", "oct_down_mean_nz", "oct_down_max",
    "oct_down_linear", "oct_down_aa", "oct_down_spline3",
    "oct_downsample_xy", "oct_percentiles",
    "oct_intensity_params", "oct_blockify", "oct_path", "oct_empty_prune",
    "oct_resume", "oct_interleave", "oct_retile", "oct_block_geom",
    "oct_block_geom_aniso",
    "oct_stats", "oct_ktx_name", "oct_ktx_header", "oct_ktx_parse",
    "oct_ktx_bytes", "oct_tiff_bytes", "oct_retile_bytes",
    "dedup_exact", "dedup_normalized", "dedup_substring", "dedup_substring_hashed",
    "dedup_minhash", "dedup_simhash", "dedup_minhash_pairs",
    "dedup_ngram_jaccard", "dedup_curve", "dedup_cluster", "dedup_embed", "dedup_edit",
    "dedup_embed_cluster", "dedup_decontaminate", "dedup_bloom",
    "dedup_band_cap", "dedup_semantic", "dedup_incremental", "dedup_keep_best",
    "dedup_yield", "dedup_overlap_matrix", "dedup_containment",
    "graph_pagerank", "graph_bfs", "graph_triangles",
    "graph_common_neighbors", "graph_kcore", "graph_label_prop", "graph_jaccard_links", "graph_clustering_coeff",
    "graph_modularity", "graph_scc", "graph_ppr", "graph_louvain", "graph_louvain2",
    "graph_louvain_conv", "graph_ktruss", "graph_conductance",
    "text_quality", "text_fingerprint", "text_ngrams", "text_langid",
    "text_tokens", "text_filter", "text_pii_mask", "text_rep_ngram",
    "text_line_dedup", "text_vocab", "text_encode", "text_pack", "text_tfidf",
    "text_hash_embed", "text_pmi", "text_charlm", "text_bpe", "text_bpe_encode",
    "text_chunk", "text_cdc_chunks", "text_nb_classify", "text_vocab_growth",
    "text_winnow", "text_ccnet_buckets",
    "sample_stratified", "sample_priority", "sample_budget", "sample_mixture", "sample_split", "sample_negatives",
    "sample_curriculum", "sample_soft_dedup", "sample_dsir", "sample_class_balance",
    "sample_diverse", "sample_coreset", "stats_length_deciles", "stats_approx_quantile", "stats_mad_outliers", "stats_gini",
    "agg_kmv_distinct", "agg_cms_topk", "agg_hll_distinct", "agg_hll_merge",
    "agg_kmv_overlap", "stats_diversity",
    "embed_quantize", "embed_pca_power",
    "embed_project", "pipeline_clean",
    "pipeline_train", "pipeline_shard", "pipeline_card", "pipeline_validate",
    "pipeline_export", "pipeline_incr", "pipeline_mm", "pipeline_backfill",
    "pipeline_ivm", "pipeline_ivm_join", "pipeline_lineage",
    "pipeline_octree", "pipeline_octree_audit",
    "stats_value_hist", "stats_token_hist", "stats_cov_matrix", "stats_source_drift",
    "stats_moments", "stats_heavy_changers",
    "stats_ks_drift", "stats_exact_median", "stats_label_errors", "stats_split_leakage",
    "sim_brute_topk", "sim_range_search", "sim_lsh_topk", "sim_ivf_topk", "sim_ivf_kmeans",
    "sim_pairs_thresh", "sim_pq_topk", "sim_pq_refine", "sim_pq_kmeans", "sim_knn_graph",
    "sim_nndescent", "sim_graph_topk", "sim_graph_topk2",
    "sim_hybrid_rrf", "sim_bm25_topk", "sim_filtered_topk", "sim_hamming_topk", "sim_maxsim",
    "sim_mrl_topk", "sim_mmr_topk", "sim_sq_topk", "sim_ivfpq_topk", "sim_ivfpq_refine", "sim_index_refresh",
    "sim_recall_eval",
    "mm_pack", "mm_meta_extract", "mm_phash", "mm_phash_cluster", "mm_decode_png", "mm_decode_wav", "mm_decode_jp2",
    "mm_audio_feats", "mm_vad",
    "mm_frame_sample",
    "mm_resize", "mm_patchify", "mm_scene_detect",
    "src_volume_scan", "src_volume_scan_l1", "src_pyramid_sink", "src_volume_sink", "src_jsonl_scan",
    "src_csv_scan", "src_csv_badrecords", "src_orc_roundtrip",
    "src_n5_bytes", "src_zarr_bytes", "src_ingest_dispatch", "src_slice_ingest",
    "src_tfrecord_sink", "src_wds_sink", "src_zarr3_bytes",
    "src_jp2_ingest", "src_stack_ingest", "src_volume_compact",
    "src_volume_snapshot", "src_snapshot_merge", "src_stats_prune",
    "src_zorder_store", "src_hilbert_store", "src_schema_evolve", "src_volume_zonemap",
    "src_snapshot_delete", "src_delete_compact", "src_snapshot_diff",
    "src_partition_evolve", "src_bloom_index", "src_branch_tag", "src_wap",
    "src_log_compact", "src_hidden_partition", "src_pos_delete",
    "src_binpack_compact", "src_commit_conflict", "src_erasure_proof",
    "src_manifest_prune", "src_row_lineage", "src_orphan_gc", "src_orphan_census", "src_meta_tables", "src_eq_delete", "src_hidden_zorder", "src_rollback")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession("graft-bench", cpus.toInt)

    // SPARK_GRAFT_STAGE_LOG=1: per-stage wall/task times on stderr,
    // for root-causing drift in individual queries.
    if (sys.env.contains("SPARK_GRAFT_STAGE_LOG")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = ev.stageInfo
          val wall = (for { s <- si.submissionTime; e <- si.completionTime } yield e - s)
            .getOrElse(-1L)
          val taskMs = si.taskMetrics.executorRunTime
          System.err.println(
            f"[stage] ${si.stageId}%4d wall=${wall}%6dms task=${taskMs}%7dms " +
              f"tasks=${si.numTasks}%3d ${si.name.takeWhile(_ != '\n').take(90)}")
        }
      })
    }

    // Full evaluation of every output column: sum of a 64-bit hash over
    // the whole row. Under a bare count(1) Catalyst prunes unused
    // projections/windows, so map-only operators (text_quality,
    // mm_meta_extract, q_window, ...) would degrade to parquet
    // row-count scans and the bench would not measure their real work.
    def force(df: DataFrame): Unit = {
      val h = xxhash64(df.columns.toIndexedSeq.map(col): _*)
      // bit_xor: order-independent and cannot overflow under ANSI mode
      df.select(h.as("h")).agg(org.apache.spark.sql.functions.expr("bit_xor(h)")).collect()
      ()
    }

    def timeOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try force(SparkEntry.queries(name)(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); return -1.0 }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $name%-20s $dt%8.2fs")
      dt
    }

    // Best of four: the first run pays JIT/codegen; the extra runs
    // shield the reported number from transient host stalls (observed
    // multi-second wandering pauses on otherwise sub-second queries,
    // independent of which query is running).
    // SPARK_GRAFT_BENCH_ONLY=q1_agg,q5_join isolates queries for debugging
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = headline.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))
    val results = selected.map { name =>
      val runs = (1 to 4).map(_ => timeOnce(name))
      name -> (if (runs.exists(_ < 0)) -1.0 else runs.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // a failed query reads -1 and stays out of `total`; it is counted
    // in `n_failed` and fails the process instead
    val total = results.map(_._2).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // Also persist to disk: the driver's stdout capture has truncated
    // the leading total + ~half the per-query numbers before (r4) —
    // the on-disk copy is the complete, committable artifact.
    // a SUBSET run (BENCH_ONLY) must never clobber the committed
    // full-sweep artifact: default it to a separate file
    val defaultOut =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) "bench_subset.json"
      else "bench_last.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: $e") }
    // The full per-query line above is ~9 KB at 294 queries, and the
    // driver parses only a ~3 KB stdout TAIL — at r13 that decapitated
    // the JSON and zeroed the PERF comparison. Print a compact
    // summary line LAST so any tail window contains one complete,
    // parseable JSON object; the full per-query map lives in the line
    // above and in the on-disk artifact (bench_last.json).
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"n_failed":$nFailed,"sf":"$sfDir","cpus":$cpus,"queries_file":"$outPath"}""")
    spark.stop()
    if (nFailed > 0) {
      System.err.println(s"[bench] $nFailed of ${results.size} queries failed")
      sys.exit(1)
    }
  }
}
