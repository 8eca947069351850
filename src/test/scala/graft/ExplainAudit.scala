package graft

/** Manual plan-audit helper (`sbt "Test/runMain graft.ExplainAudit"`):
  * prints the executed plan of the named gate queries so plan shape
  * regressions are easy to eyeball beyond the automated assertions.
  * Not a test — kept in the test tree to stay out of the library jar.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val targets =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("text_decontaminate", "text_decontaminate_bloom", "dedup_paragraph",
        "dedup_components_incremental", "sim_rerank_topk",
        "q7_volume", "q13_custdist", "q17_small_qty", "q20_part_suppliers",
        "mm_dedup", "text_pack",
        "dedup_semantic", "text_token_budget", "etl_datatype_match",
        "etl_route_file", "dedup_components_lineage",
        "q_funnel", "q_retention", "text_contamination_score", "sim_knn_graph",
        "mm_overlap_dedup",
        "q_attribution", "text_mix_rebalance", "sim_ivf_pq_topk",
        "mm_phash_dedup",
        "q_gap_fill", "q_anomaly", "q_trend", "sim_range_search",
        "text_feature_hash", "text_lm_score", "text_bpe_merges",
        "dedup_substring", "sim_recall_report", "etl_incremental_agg",
        "q_sketch_merge",
        "sim_knn_graph_lineage", "sim_knn_graph_incremental",
        "sim_knn_components", "sim_ivf_index_topk", "sim_ivf_pq_index_topk",
        "dedup_paragraph_apply", "dedup_substring_apply",
        "dedup_survivors_list", "etl_config_scheduled", "mm_phash_dedup_unicode",
        "sim_hybrid_index_batch_topk", "sim_hybrid_lifecycle_topk",
        "sim_ivf_index_imbalance", "sim_ivf_lifecycle_retrain",
        "sim_ivf_pq_lifecycle_retrain", "text_bm25_index_restat",
        "dedup_cascade", "dedup_cascade_incremental",
        "sim_maintenance_nightly", "mm_overlap_dedup_capped",
        "sim_pq_maintenance_nightly", "text_bm25_maintenance_nightly",
        "mm_phash_dedup_incremental", "q_recursive_cte")
    targets.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      df.count() // materialize so AQE finalizes
      println(s"\n===== $name =====")
      println(df.queryExecution.executedPlan.toString.take(4000))
    }
    spark.stop()
  }
}
