package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes PLANS.md: `explain("formatted")` of the headline queries —
  * the artifact of the "iterate until it's the plan you'd want" loop.
  * Run: sbt "runMain graft.PlanDump". */
object PlanDump {
  val headline = Seq(
    "scan_delta", "project_patient", "join_tiered", "join_tiered_composite",
    "join_asof", "merge_upsert", "agg_outcomes", "window_sessionize",
    "ext_dedup_minhash", "ext_dedup_simhash", "ext_dedup_ngram",
    "ext_topk_cosine", "ext_ann_lsh", "ext_topk_ivf",
    "ext_cluster_representative", "ext_multimodal_decode",
    "ext_top_terms", "ext_decontaminate", "ext_pii_redact",
    "ext_stratified_sample", "window_scd2_history", "ext_corpus_curate_full",
    "join_exists_subquery", "join_scalar_subquery", "ext_corpus_curate",
    "ext_repetition_score", "ext_char_entropy", "ext_contamination_score",
    "ext_dedup_semantic", "ext_bm25_search", "ext_tfidf_terms", "ext_domain_cap",
    "ext_unigram_logprob", "ext_dedup_chunk", "ext_decontaminate_bloom",
    "ext_bigram_logprob", "ext_temperature_sample", "ext_dedup_incremental",
    "ext_dedup_chunk_rewrite", "ext_embedding_quantize", "ext_winnow_overlap",
    "ext_pagerank", "ext_hits", "ext_weighted_sample", "ext_domain_kl",
    "agg_retention_cohorts", "ext_zipf_fit", "ext_quality_classifier",
    "ext_hybrid_search", "ext_knn_label_audit", "ext_cluster_centroids",
    "ext_topk_pq", "ext_perplexity_buckets", "ext_importance_resample",
    "ext_bpe_pair_stats", "ext_hybrid_search_pq", "ext_pq_incremental",
    "ext_ivf_incremental", "ext_topk_ivfpq", "ext_bm25_incremental",
    "ext_lsh_incremental", "ext_clusters_incremental",
    "ext_ivfpq_incremental", "ext_hybrid_search_ivfpq", "ext_topk_imi",
    "ext_topk_imipq", "ext_imipq_incremental", "ext_topk_ivfpqr",
    "ext_ivfpq_compact", "ext_bm25_compact", "ext_lsh_compact",
    "ext_imipq_compact", "ext_ivfpqr_incremental", "ext_ivfpqr_compact",
    "ext_bpe_token_count", "ext_substring_dedup", "ext_top_terms_cms",
    "ext_mmr_rerank", "ext_substring_dedup_rewrite",
    "ext_substr_incremental", "ext_substr_compact", "ext_mmr_rerank_ivfpq",
    "ext_shard_assign", "ext_shard_manifest",
    "ext_mixture_sample", "ext_shard_incremental", "ext_shard_manifest_fold",
    "ext_topk_filtered", "ext_topk_ivfpq_filtered", "ext_prototype_prune",
    "ext_mixture_epochs", "ext_pack_spans",
    "ext_bm25_purge", "ext_ivfpq_purge", "ext_shard_purge",
    "ext_snapshot_diff", "ext_gopher_rules", "ext_pack_report",
    "ext_substr_purge", "ext_hard_negatives", "ext_hard_negatives_ivfpq",
    "ext_clusters_purge",
    "ext_crawl_refresh", "ext_decontam_rewrite", "ext_split_leakproof",
    "ext_corpus_datasheet", "ext_split_leakproof_incremental",
    "ext_refresh_report",
    "ext_lsh_purge", "ext_imipq_purge", "ext_ivfpqr_purge",
    "ext_substr_refresh", "ext_ivfpq_refresh",
    "ext_pagerank_warm", "ext_hits_warm",
    "ext_semantic_incremental", "ext_semantic_purge",
    "ext_imipq_refresh", "ext_ivfpqr_refresh", "ext_lsh_refresh",
    "ext_shard_refresh", "ext_ann_recall_flat", "ext_ann_recall_pq",
    "ext_ann_recall_imi", "ext_clusters_refresh", "ext_semantic_refresh")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Dev.local("4", "ERROR", Dev.Utc)
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.PlanDump — do not edit)\n\n")
    sb.append(s"Headline queries at `$sfDir`, `explain(\"formatted\")`.\n")
    sb.append("What to look for: `PushedFilters` on scans, pruned `ReadSchema`,\n")
    sb.append("`BroadcastHashJoin` on lookup joins, partial `HashAggregate` before\n")
    sb.append("each `Exchange`, `WholeStageCodegen` spans over scalar work.\n")
    headline.foreach { name =>
      val df = byName(name).fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    sb.append(jdbcSourcePlan(spark))
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size} plans + jdbc source)")
    spark.stop()
  }

  /** S12 (not a registry query — the source is the operator): the
    * warehouse delta read against embedded Derby, showing the watermark
    * filter compiled into the database-side scan (PushedFilters) and the
    * range-partitioned parallel read (numPartitions). */
  private def jdbcSourcePlan(spark: SparkSession): String = {
    import org.apache.spark.sql.functions.col
    val url = "jdbc:derby:memory:graftplans;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE patients (id BIGINT, name VARCHAR(40), updated_ms BIGINT)")
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val delta = sources.Sources.jdbc(spark, url, "patients",
          partitionCol = Some("id"), lowerBound = 1L, upperBound = 101L,
          numPartitions = 4, props = props)
        .filter(col("updated_ms") >= 60000L)
        .select("id", "name")
      val plan = delta.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      s"\n## jdbc warehouse source (S12; Sources.jdbc vs embedded Derby)\n\n```\n$plan```\n"
    } finally {
      conn.close()
      try java.sql.DriverManager.getConnection("jdbc:derby:memory:graftplans;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }
}
