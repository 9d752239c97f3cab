package graft.queries

import graft.SparkSpec

/** Registry integrity guards (no Spark session needed), and the
  * schema memo of [[Registry.table]] (the last two tests).
  *
  * The harness surface is assembled by `++` over per-area Maps, which
  * SILENTLY drops duplicates (later module wins) — and a careless edit
  * can delete neighbouring entries without any compile error (it
  * happened: an operator removal took three unrelated queries with it,
  * caught only by a full verify-count diff). These pins make both
  * failure modes loud. */
class RegistrySpec extends SparkSpec {

  private val modules = Seq(
    "EtlQueries" -> EtlQueries.all,
    "RelationalQueries" -> RelationalQueries.all,
    "AdvancedQueries" -> AdvancedQueries.all,
    // the six themed modules BEHIND ExtQueries.all, listed individually:
    // the union would shadow a cross-submodule name collision before this
    // spec could see it
    "ExtTextQueries" -> ExtTextQueries.all,
    "ExtDedupQueries" -> ExtDedupQueries.all,
    "ExtSimilarityQueries" -> ExtSimilarityQueries.all,
    "ExtEventsQueries" -> ExtEventsQueries.all,
    "ExtAnalyticsQueries" -> ExtAnalyticsQueries.all,
    "ExtMultimodalQueries" -> ExtMultimodalQueries.all,
    "TpchExtraQueries" -> TpchExtraQueries.all,
    "ScaleQueries" -> ScaleQueries.all,
    "CurationQueries" -> CurationQueries.all,
    "MiningQueries" -> MiningQueries.all,
    "StatsQueries" -> StatsQueries.all)

  test("no query name collides across modules (Map ++ would silently shadow)") {
    val names = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }
    val dups = names.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, s"duplicate registrations: ${dups.map { case (k, v) => s"$k in ${v.map(_._2)}" }}")
    assert(graft.SparkEntry.registry.size == names.size)
  }

  test("surface size only changes deliberately (bump on add/remove)") {
    // 161 as of round 7 (+join_setsim_prefix, +agg_heavy_hitters,
    // +events_decay, +events_attribution, +search_phrase,
    // +layout_compaction, +feature_bins, then +itemsets_pairs,
    // +stats_covariance, +dedup_incremental, +snapshot_diff,
    // +join_interval_overlap, +compliance_forget; then the StatsQueries
    // module: +stats_regression, +stats_mad_outliers, +stats_abtest,
    // +agg_hll_rollup, and +multimodal_framesample → 166; then
    // +graph_link_predict, +events_funnel_windowed → 168; then
    // +sample_negatives, +feature_hash → 170; +agg_cms_freq,
    // +events_pattern_match, +stats_psi → 173; +dedup_containment,
    // +corpus_source_audit → 175; +dedup_minhash_indexed,
    // +dedup_containment_indexed → 177; +text_boilerplate,
    // +sample_temperature, +curation_attrition, +stats_kstest → 181;
    // +text_boilerplate_indexed, +stats_chisq,
    // +join_containment_prefix → 184; +dedup_semantic,
    // +shards_shuffle, +search_hybrid_rrf → 187;
    // +dedup_semantic_indexed → 188; +sample_weighted,
    // +index_health_audit → 190; +text_dedup_spans,
    // +events_feature_snapshot → 192; +sim_topk_filtered → 193;
    // +text_bpe_apply, +index_tuning_sweep → 195; +text_bpe_vocab → 196;
    // +text_dedup_spans_indexed → 197; +dedup_tuning_sweep → 198;
    // +quality_tuning_sweep → 199; +dedup_index_audit,
    // +corpus_mix_plan, +pack_budget_sweep → 202; +stats_mannwhitney,
    // +stats_bootstrap, +corpus_mix_schedule → 205; +embed_drift,
    // +sim_knn_graph → 207; +embed_outliers → 208; +stats_anova,
    // +stats_autocorr, +text_collocations → 211; +multimodal_phash,
    // +join_asof_nearest → 213; +text_gopher_rules, +text_ngram_novelty,
    // +corpus_diversity → 216; +multimodal_phash_indexed → 217;
    // +embed_dim_audit, +corpus_overlap → 219; +text_langid_eval → 220;
    // +mv_join_delta → 221; +text_winnowing → 222; +stats_cusum → 223;
    // +sim_range_search → 224; +dedup_winnow_pairs → 225;
    // +events_forecast_eval → 226; +sim_range_ivf → 227;
    // +shards_balance_audit → 228; +dedup_winnow_indexed → 229;
    // +privacy_kanon, +events_contribution_cap → 231;
    // +events_survival, +corpus_concentration → 233;
    // +quality_calibration, +stats_spearman → 235;
    // +graph_degree_stats → 236; +events_user_concentration → 237;
    // +quality_train, +search_rag_context → 239;
    // +quality_train_eval → 240; +dedup_cascade → 241;
    // +quality_train_hashed, +quality_train_eval_hashed → 243;
    // +dedup_exact_normalized → 244;
    // +dedup_cascade_incremental → 245; +corpus_build → 246;
    // +search_bm25_indexed → 247; +search_phrase_indexed → 248;
    // +search_phrase_slop, +quality_sgd_hashed → 250;
    // +corpus_build_incremental → 251;
    // +quality_sgd_eval_hashed → 252;
    // +search_phrase_unordered → 253;
    // +search_hybrid_rrf_indexed, +search_rag_context_indexed → 255;
    // +sim_topk_exact_pruned → 256;
    // +text_redact_multi → 257;
    // +search_hybrid_batch → 258;
    // +compact_policy → 259):
    // see COVERAGE.md tally.
    // The partsupp-gated TPC-H trio (q2/q11/q20) self-registers only when
    // the driver ships that table, so the pin allows exactly +0 or +3.
    // If this fails after an edit you did not expect to change the
    // surface, an entry was silently dropped or duplicated.
    val expected = 259 + (if (graft.queries.TpchExtraQueries.partsuppAvailable) 3 else 0)
    assert(graft.SparkEntry.registry.size == expected,
      s"registry has ${graft.SparkEntry.registry.size} queries (want $expected); " +
        "update this pin AND COVERAGE.md")
    assert(graft.SparkEntry.registry.contains("dedup_minhash_indexed") &&
      graft.SparkEntry.registry.contains("dedup_containment_indexed"),
      "the artifact-served dedup screens must stay registered")
  }

  test("every query carries a doc line; every oracle is non-empty ANSI text") {
    graft.SparkEntry.registry.foreach { case (name, q) =>
      assert(q.doc.nonEmpty, s"$name: missing doc")
      q.oracle.foreach(sql => assert(sql.trim.toUpperCase.startsWith("SELECT")
        || sql.trim.toUpperCase.startsWith("WITH"), s"$name: odd oracle SQL"))
    }
  }

  test("table() infers a path's schema once per session: a second read starts no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reg_memo").toString
    spark.range(3).selectExpr("id AS doc_id", "'x' AS text")
      .write.parquet(s"$dir/documents.parquet")
    // control: the first read infers the schema, and that is a job
    assert(jobsOf { Registry.table(spark, dir, "documents"); () } >= 1)
    assert(jobsOf { Registry.table(spark, dir, "documents"); () } == 0)
    assert(Registry.table(spark, dir, "documents").count() == 3)
  }

  test("table() reads a rewritten path with its new schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reg_rewrite").toString
    val path = s"$dir/documents.parquet"
    spark.range(2).selectExpr("id AS doc_id", "'x' AS text").write.parquet(path)
    assert(Registry.table(spark, dir, "documents").columns.toSeq == Seq("doc_id", "text"))
    spark.range(4).selectExpr("id AS doc_id", "'y' AS text", "id * 10 AS n_chars")
      .write.mode("overwrite").parquet(path)
    val back = Registry.table(spark, dir, "documents")
    assert(back.columns.toSeq == Seq("doc_id", "text", "n_chars"))
    assert(back.agg(org.apache.spark.sql.functions.sum("n_chars")).head().getLong(0) == 60L)
  }
}
