package graft


/** Build-side artifact generator: dumps the FORMATTED physical plan
  * of the headline bench queries plus the scale-critical operator
  * shapes into PLANS.md — the human-auditable record of what
  * actually executes (exchanges, pushed filters, read schemas,
  * codegen spans). Regenerate after any plan-affecting change:
  *
  *   sbt "runMain graft.Plans /root/testdata/sf0.001 PLANS.md"
  *
  * An optional op-name tail (`runMain graft.Plans <sf> <out> <op>…`)
  * writes only those ops' plans, e.g. a before/after pair of one op.
  *
  * The plan text is environment-stable (sf0.001 fixture paths are
  * the only local detail) so diffs of this file review as plan
  * changes, not noise.
  */
object Plans {

  /** Queries whose plan shape carries the 100 TB argument: the 12
    * graded headline entries, Bench's secondary plan-regression guards,
    * plus the operators whose design notes in SURVEY/SCALE promise a
    * specific shape (bucketed zero-exchange join, DPP subquery, banded
    * dedups, vocab-side BPE explode …). */
  val selection: Seq[String] = Bench.headline ++ Bench.secondary ++ Seq(
    "scan_pruned_pushdown",
    "text_bpe_pair_counts",
    "etl_forward_fill",
    "events_fdr_bh",
    "etl_psi_drift",
    "events_cem_att",
    "agg_mannwhitney_u",
    "text_kneser_ney_lm",
    // round 14 (#248-#253)
    "agg_skew_kurtosis",
    "win_drawdown_max",
    "text_rouge_overlap",
    "events_sprt_sequential",
    "graph_degree_assortativity",
    "ts_sma_crossover",
    // round 14 batch 2 (#254-#259)
    "graph_clustering_coefficient",
    "stream_static_enrich",
    "agg_eb_shrunk_means",
    "agg_regression_outlier",
    "etl_surrogate_key_assign",
    "events_time_to_convert",
    "win_share_of_group",
    "events_stickiness_ratio",
    // round 14 reworked plans: compact-mode CC and the one-pass
    // language-ID profile (the full-sweep bench findings)
    "dedup_cluster_components",
    "text_language_id",
    // round 15 (#262-#273)
    "variant_extract_agg",
    "etl_snapshot_compact",
    "ts_yoy_growth",
    "agg_mutual_information",
    "text_zipf_fit",
    "etl_late_arriving_dim",
    "agg_herfindahl_share",
    "text_js_divergence",
    "events_interarrival_hist",
    "text_vocab_coverage",
    "etl_baseline_reporting_usage",
    "text_hapax_ratio",
    // round 16 (#274-#286)
    "graph_shortest_paths",
    "agg_levene_bf",
    "agg_jackknife_groups",
    "sim_sparse_cosine_topk",
    "multimodal_audio_vad",
    "etl_anonymize_referential",
    "ts_granger_f",
    "events_top_paths",
    "agg_info_gain",
    "multimodal_image_entropy",
    "scan_parquet_bloom_lookup",
    "agg_delta_method_ratio",
    "etl_snapshot_optimize_cluster",
    "stream_cdc_upsert",
    "etl_dq_suggest",
    "text_pii_scan",
    "ts_seasonal_strength",
    // round 17 (#291-#292)
    "etl_snapshot_stats_pruned",
    "etl_snapshot_add_column",
    "etl_snapshot_restore",
    "etl_snapshot_rename_column",
    "etl_snapshot_delete_where",
    "stream_snapshot_sink",
    "etl_snapshot_point_lookup",
    "etl_snapshot_cdc_follow",
    "etl_snapshot_clone_branch",
  )

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val names = if (args.length > 2) args.drop(2).toSeq else selection
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown op $n"))
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by `graft.Plans` — do not hand-edit)\n\n")
    sb.append("Formatted plans of the graded headline queries and the\n")
    sb.append("scale-critical operator shapes, at sf0.001. What to read for:\n")
    sb.append("`Exchange` lines (each is a shuffle), `PushedFilters`/`ReadSchema`\n")
    sb.append("on scans (pushdown and pruning), `WholeStageCodegen` spans, and\n")
    sb.append("the ABSENCE of `BroadcastNestedLoopJoin`/`CartesianProduct` in\n")
    sb.append("every join family. The contract for any nested loop that DOES\n")
    sb.append("appear below is a single generic rule (no enumerated allowlist —\n")
    sb.append("past rounds' lists went stale): its build side must be a\n")
    sb.append("BROADCAST, metadata-scale table, one of exactly three idioms —\n")
    sb.append("(a) the ANN/centroid scored-scan (fixed query set or ~sqrt(n)\n")
    sb.append("centroid list scored against the corpus, bounded-heap top-k\n")
    sb.append("consuming the scores: `sim_knn_topk`, `sim_ann_ivf`,\n")
    sb.append("`dedup_semantic_cluster`, `sim_maxsim_multivec`, and\n")
    sb.append("`sim_hybrid_rrf`'s dense arm — brute-force at test scale, the\n")
    sb.append("documented ANN swap at 100 TB), (b) a 1-row\n")
    sb.append("keyless-aggregate scalar joined cross (global totals / sup\n")
    sb.append("offsets / corpus stats: `etl_profile_columns`, `agg_ks_test`,\n")
    sb.append("`agg_gini_concentration`, `sim_bm25_rank`'s corpus stats,\n")
    sb.append("`agg_mannwhitney_u`'s bucket offsets, `text_kneser_ney_lm`'s\n")
    sb.append("bigram-type total, `agg_winsorized_mean`'s count/bounds rows —\n")
    sb.append("`agg_rfm_segments`' equivalents run as eager build-time rank\n")
    sb.append("jobs behind its checkpoint barriers, outside the dumped\n")
    sb.append("plan), or\n")
    sb.append("(c) a per-type sketch/metadata list under an inequality\n")
    sb.append("pair-ordering predicate (`agg_theta_audience_overlap`).\n")
    sb.append("In every case the probe side streams once and the loop cost is\n")
    sb.append("O(corpus × metadata), never fact × fact; PlanShapeSpec pins\n")
    sb.append("that no FACT-to-FACT nested loop exists anywhere.\n")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // expression/plan ids are fresh per session — normalize them so
      // regeneration diffs show plan changes, not id churn
      val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        .replaceAll("#\\d+", "#x")
        .replaceAll("plan_id=\\d+", "plan_id=x")
        .replaceAll("RDD\\[\\d+\\]", "RDD[x]")
        .replaceAll("\\.scala:\\d+", ".scala:x")
        .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+(@[0-9a-f]+)?", "Lambda\\$x")
        .replaceAll("/graft_[a-z_]+_[0-9a-f]{8}", "/graft_scratch_x")
        .replaceAll("graft_([a-z]+)_b109_[0-9a-f]{8}", "graft_$1_b109_x")
        .replaceAll("graft_([a-z_]+?)_?[0-9]*_[0-9a-f]{8}", "graft_$1_x")
      sb.append(s"\n## $name\n\n```\n").append(plan.trim).append("\n```\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"[plans] wrote ${names.size} plans to $out")
    spark.stop()
  }
}
