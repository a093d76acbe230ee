package graft

/** Plan-audit main: prints the at-scale physical plan summary for the
  * headline queries into PLANS.md. Runs with
  * `spark.sql.autoBroadcastJoinThreshold=-1`, which disables
  * size-based broadcasts so the plan shows the join strategy the
  * optimizer would pick when every input is too big to broadcast —
  * the 100 TB shape. Explicit `broadcast()` hints (bounded dims, ANN
  * query side) survive, which is the intent: only provably bounded
  * inputs are ever force-broadcast.
  *
  * `sbt "runMain graft.Plans"` — replaces the old tools/plans.sc
  * console script (the REPL classloader cannot resolve MLlib's
  * array_to_vector registration).
  */
object Plans {
  private val headline = Seq(
    "q1_agg", "q3_topn", "q5_join", "win_running_total",
    "sess_gap_sessions", "silver_fact_events", "silver_dim_customer",
    "gold_hourly_profile", "gold_od_matrix", "gold_tier_summary",
    "gold_gravity_gaps", "gold_pivot_profile", "dedup_exact",
    "dedup_jaccard", "dedup_minhash", "dedup_simhash",
    "dedup_minhash_capped", "dedup_simhash_ngram", "dedup_cross_capped",
    "dedup_index_cross_capped",
    "ann_topk",
    "ann_ivf_topk", "dedup_embedding", "geo_polygon_intersects",
    "consult_polygon_clusters", "consult_top_gaps", "pipe_clean_corpus",
    "salt_agg", "asof_prev_spend", "sample_stratified", "text_pii_scrub",
    "text_ngram_topk", "dedup_components", "bronze_partition_upsert",
    "gold_cube_demand", "dq_constraints", "scd2_status", "er_fuzzy_names",
    "gold_incremental_profile", "dedup_cross", "dedup_index_cross",
    "text_contamination", "text_word_stats", "text_boilerplate",
    "text_tfidf_topk", "export_pack_manifest", "bloom_new_keys",
    "curate_url_stats", "text_intradoc_dedup", "sample_topn_stratified",
    "mm_image_dups", "lake_scan_prune", "lake_sql_scan",
    "lake_delete_where", "lake_merge_upsert", "lake_cluster_scan",
    "sample_temperature", "split_leakage_safe", "bronze_jsonl_roundtrip",
    "dedup_spans", "text_span_trim", "lake_delete_dv", "export_shuffle",
    "text_lm_score", "ann_pq_topk", "range_join_bands",
    "lake_bloom_lookup", "bpe_tokenize", "text_normalize",
    "text_topk_tokens", "text_dup_ngrams", "emb_pca_project",
    "ann_index_topk", "curate_url_canon", "q4_semi", "q18_having",
    "lake_hilbert_scan", "text_quality_model", "lake_schema_evolution",
    "curate_dsir_counts", "mm_image_twin_recall", "dedup_semantic",
    "mm_video_dims", "pipe_crawl_corpus", "text_langid_model",
    "mm_image_embed", "mm_audio_embed", "export_bpe_pack",
    "ann_rpq_topk", "pipe_model_curation", "ann_opq_topk",
    "mm_features", "mm_audio_features", "ann_sq_topk", "ann_bq_topk")

  private val keep = Seq("SortMergeJoin", "BroadcastHashJoin",
    "ShuffledHashJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
    "Exchange", "BroadcastExchange", "ReusedExchange", "FileScan",
    "Window")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else Scratch.path("PLANS.md")
    val spark = GraftSession.builder(8).master("local[8]")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    // Auto-stamp (r14 verdict #7): a hand-maintained round number in
    // the header went stale twice in one round — emit the generating
    // commit + date instead, so header currency is mechanical.
    val sha = try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .start()
      val s = scala.io.Source.fromInputStream(p.getInputStream)
        .mkString.trim
      p.waitFor(); if (s.nonEmpty) s else "unknown"
    } catch { case _: Throwable => "unknown" }
    val stamp = java.time.LocalDate.now().toString
    sb ++= s"# PLANS — at-scale physical plan audit ($stamp, git $sha)\n\n"
    sb ++= "Generated by `sbt \"runMain graft.Plans\"` with\n"
    sb ++= "`spark.sql.autoBroadcastJoinThreshold=-1`, which disables size-based\n"
    sb ++= "broadcasts so the plan shows the join strategy the optimizer would pick\n"
    sb ++= "when every input is too big to broadcast — the 100 TB shape. Explicit\n"
    sb ++= "`broadcast()` hints (bounded dims, ANN query side) survive, which is\n"
    sb ++= "exactly the intent: only provably bounded inputs are ever\n"
    sb ++= "force-broadcast. Summary lines: joins, exchanges, windows, and scans\n"
    sb ++= "with pushdown evidence.\n\n"
    for (q <- headline) {
      val plan =
        try {
          // Execute, then print: AQE finalizes stages — and replaces
          // canonically-identical exchanges with ReusedExchange — only
          // at runtime, so the pre-execution plan over-counts
          // exchanges. collect() drives the Dataset's OWN
          // QueryExecution to isFinalPlan=true.
          val df = SparkEntry.queries(q)(spark, sfDir)
          df.collect()
          // keep only the final plan — the trailing "== Initial Plan =="
          // section repeats every pre-reuse exchange
          df.queryExecution.executedPlan.toString
            .split("== Initial Plan ==")(0)
        } catch { case e: Throwable => s"PLAN ERROR: ${e.getMessage}" }
      sb ++= s"## $q\n\n```\n"
      if (plan.startsWith("PLAN ERROR")) sb ++= plan.take(300) + "\n"
      else plan.linesIterator.foreach { l =>
        val t = l.trim.replaceAll("^[+:\\-\\s*]+", "")
          .replaceAll("^\\(\\d+\\)\\s*", "") // codegen-stage id prefix
        if (keep.exists(t.startsWith) ||
            (t.startsWith("HashAggregate") && t.contains("partial")))
          sb ++= t.take(200) + "\n"
      }
      sb ++= "```\n\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      sb.toString)
    println(s"WROTE $out")
    spark.stop()
  }
}
