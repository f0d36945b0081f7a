package graft.tools

/** Plan audit main: prints the formatted physical plan of selected
  * queries and greps for the scale-relevant properties (pushed filters,
  * broadcast joins, take-ordered top-k, whole-stage codegen spans).
  * Run: sbt "runMain graft.tools.ExplainAudit [queryName ...]"
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = ProbeHarness.session()
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "filter_project_pushdown", "join_agg_topk", "sort_limit_topk",
      "knn_cosine_topk", "similarity_join_topk", "dedup_ngram_jaccard",
      "agg_pricing_summary", "testbed_generate",
      // round-4/5 surfaces: the lexical legs (single-scan + indexed),
      // the probed batch ANN, and the carry/bin joins
      "bm25_topk", "bm25_indexed_topk", "hybrid_rrf_fusion",
      "ann_ivf_batch_probe", "asof_join_tolerance", "range_join_price_bands",
      // wave-3/4 surfaces: sub-document dedup (broadcast heavy set /
      // digest semi-join), iterative graph, event analytics
      "dedup_lines_boilerplate", "dedup_span_removal",
      "pagerank_purchase_graph", "funnel_conversion", "cohort_retention",
      // wave-5/6 surfaces: cluster-scoped dedup, vocabulary-keyed joins,
      // eval panels, contrastive mining, LM scoring
      "semantic_dedup_pairs", "tfidf_top_terms", "retrieval_eval_metrics",
      "contrastive_triples", "ngram_lm_score", "mix_temperature_sample",
      // round-9 third-wave surfaces: SIF vocab join, phrase legs
      // (scan + bucket-pruned index), blocklist battery, anomaly panel
      "sif_embedding", "phrase_search_positional", "phrase_search_indexed",
      "blocklist_gate", "events_anomaly_daily", "k_anonymity_report",
      // round-14 surfaces: PSL InSet domains, format extractors (all
      // narrow maps — the only Exchange is the oracle-mandated final
      // sort), digest-broadcast revisit join, bloom aggregate
      "psl_registered_domain", "html_tables_extract", "html_jsonld_extract",
      "code_license_detect", "latex_strip", "srt_cues_extract",
      "vtt_cues_extract", "notebook_cells_extract", "warc_revisit_dedup",
      "frontier_bloom_seen", "image_container_probe",
      // round-15 surfaces: decimal aggregation, layout family (the
      // bucketed join's plan facts are IN its output; here we audit the
      // outer agg), salted ops, batched embed (mapPartitions seam),
      // HNSW full-ef (per-partition beam + global top-k window), CDC
      // replay's store read-back, non-vacuous dedup savings
      "decimal_pricing_summary", "layout_zorder_roundtrip",
      "layout_bucketed_join", "layout_salted_agg", "layout_salted_join",
      "ingest_batched_embed", "ann_hnsw_full_ef", "ann_hnsw_ivf_probe",
      "dedup_savings_report", "preference_pairs",
      // round-17 surfaces: one-agg fingerprint (no sort/join), the
      // A-ES top-k (TakeOrderedAndProject, never a global sort), the
      // per-stratum variant (one exchange + rank window), the GK
      // sketch check (two scans: threshold agg + bound agg)
      "dataset_fingerprint", "weighted_sample_topk",
      "weighted_sample_by_lang", "quantile_sketch_checked")
    for (n <- names) {
      println(s"\n========== $n ==========")
      val df = graft.SparkEntry.queries(n)(spark, sf)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(plan.linesIterator.filter { l =>
        l.contains("PushedFilters") || l.contains("ReadSchema") ||
        l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("TakeOrderedAndProject") || l.contains("Exchange") ||
        l.startsWith("(")
      }.mkString("\n"))
      // under AQE codegen markers (*(n) prefixes) only exist on the FINAL
      // plan, which materializes on collect of this exact plan instance.
      // (Distinct ids can conflate across subquery scopes, which restart
      // numbering — a slight undercount there; tree traversal can't see
      // inside materialized QueryStageExec nodes at all, which is worse.)
      df.collect()
      val finalPlan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val spans = "\\*\\((\\d+)\\)".r.findAllMatchIn(finalPlan).map(_.group(1)).toSet
      println("-- codegen spans: " + spans.size)
    }
    spark.stop()
  }
}
