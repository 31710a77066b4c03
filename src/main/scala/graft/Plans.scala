package graft

/** The one plan dumper: prints `explain("formatted")` as markdown — the
  * plan-review artifact behind PLANS.md — for the flagship queries, or
  * for just the queries named on the command line. It runs in the
  * bench's session ([[Bench.session]]) on SPARK_GRAFT_SF_DIR, so the
  * dumped plans are the ones the bench runs. Usage:
  *   SPARK_GRAFT_SF_DIR=<fixture dir> sbt "runMain graft.Plans [query...]"
  */
object Plans {
  val flagship = Seq(
    "q_agg_group",       // two-phase hash agg
    "q_join_broadcast",  // broadcast dim join
    "q_join_asof",       // linear union+window as-of merge
    "q_topk_global",     // TakeOrderedAndProject
    "q_scan_pushdown",   // PushedFilters into parquet
    "q_sim_knn",         // codegen'd dot_product_d kernel
    "q_dedup_minhash",   // LSH banding + array_intersect exact verify
    "q_dedup_prefix",    // PPJoin prefix-filtered exact Jaccard join
    "q_funnel",          // keyed multi-stage sequence aggregation
    "q_stream_tumble",   // windowed partial+final agg
    "q_join_bloom",      // bloom runtime filter ahead of the probe shuffle
    "q_topk_native",     // custom two-phase TopKPerGroupExec
    "q_text_tfidf",      // broadcast df table, corpus never reshuffled
    "q_sim_quant",       // quantized integer dot products, broadcast probes
    "q_stream_late",     // two-pass bucketed prefix scan (no global window)
    "q_dashboard_daily", // composed per-day metric branches joined at #days size
    "q_decontam",        // broadcast benchmark-gram probe over raw corpus grams
    "q_funnel_session",  // islands + funnel, all stages co-partitioned by user
    "q_rfm",             // percentile fences broadcast back, no global ntile window
    "q_tpch_q5",         // 6-table join: dims broadcast, only fact joins shuffle
    "q_dq_orphans",      // referential audit: broadcast anti-joins, facts never shuffle
    "q_merge_upsert",    // MERGE dataflow: co-partitioned full-outer on the merge key
    "q_skyline",         // per-brand Pareto frontier: equi-key anti self-join
    "q_tpch_q6",         // join-free pushdown canary: all predicates at the scan
    "q_tpch_q15",        // shared-subplan scalar-max join
    "q_graph_pagerank",  // 3 unrolled Pregel supersteps, one exchange each
    "q_graph_triangles", // oriented edge list, two vertex-keyed self-joins
    "q_cluster_kmeans",  // broadcast centroids, posexplode centroid update
    "q_join_band_global", // RewriteRangeJoin: keyless band → bucketed equi join
    "q_tpch_q8",         // 7-table market share: every dim broadcast, one fact shuffle
    "q_tpch_q21",        // EXISTS/NOT-EXISTS pair rewritten as one per-order aggregate
    "q_graph_sssp",      // 4 unrolled Bellman-Ford relax rounds, one exchange each
    "q_dedup_span",      // exact span dedup: gram-hash shuffles, text stays at the scan
    "q_text_pmi",        // unhinted vocab joins + 1-row token-total broadcast scalar
    "q_index_inverted",  // postings bounded BEFORE aggregation, one exchange reused
    "q_feat_scale",      // groups-sized min-max broadcast back, fact never shuffles
    "q_source_partitioned", // hive-partitioned layout: PartitionFilters directory pruning
    "q_layout_compact",  // small-files compaction: range-clustered rewrite, footer-stat pruning
    "q_dedup_contain",   // containment filter over the shared inverted-index core
    "q_text_drift",      // one corpus pass, vocabulary-scale pair join after
    "q_join_cogroup",    // typed two-sided CoGroup: one co-partitioning, no join node
    "q_stream_window_join", // (user, window)-equi join — window-keyed state, no range scan
    "q_table_diff",      // snapshot diff: one co-partitioned full-outer classify
    "q_dedup_simhash",   // pigeonhole-banded hamming LSH + exact popcount verify
    "q_source_jdbc",     // partitioned JDBC scan: 4 stride predicates, 4 connections
    "q_text_rarity",     // perplexity-proxy filter: vocab broadcast, no pair joins
    "q_multimodal_png",  // real PNG encode/decode in iterator mapPartitions stages
    "q_bucket_join",     // co-located bucketed join: no join-side exchange
    "q_basket_lift",     // order-keyed pair self-join, support filter before lift join
    "q_attribution_linear", // (user, day)-keyed purchase×touch join, windows in-key
    "q_sample_systematic",  // one window pass per stratum, stride-crossing picks
    "q_score_decay",     // dyadic decay weights, map-combinable user aggregate
    "q_table_manifest",  // manifest-table commit/merge/read cycle, snapshot scan
    "q_dq_drift",        // (type, bin)-keyed counts, tiny totals joined back
    "q_cohort_ltv",      // first-seen agg joined back, matrix agg map-combinable
    "q_agg_weighted_median", // one per-group sort window + final aggregate
    "q_feat_clip",       // distribution-based dyadic fences: no per-group value buffering
    "q_source_avro",     // DSv2 Avro bridge: per-file splits, pruned decode
    "q_pack_sequences",  // toy-BPE token counts: broadcast merge table, per-doc window
    "q_dedup_lsh",       // committed signature artifact scan + banded bucket join
    "q_dedup_incr",      // digest-keyed batch-vs-committed dedup, md5 never text
    "q_multimodal_phash", // perceptual hash pairs via the banded hamming join
    "q_graph_cc",        // pointer-doubling CC rounds over the trade backbone
    "q_mv_rewrite",      // aggregate re-pointed at the registered summary scan
    "q_graph_jaccard",   // neighbor-keyed candidate pairs, anti-join on direct edges
    "q_dedup_semantic",  // cell-bucketed pair join off the committed IVF artifact
    "q_prune_proto",     // ascending TopKPerGroup prune, centroid table broadcast
    "q_dedup_url",       // shuffle-free canonicalization, census on md5 hashes
    "q_graph_labelprop", // 3 synchronous LPA supersteps, one exchange each
    "q_feat_target_encode", // one fact aggregate, rollups over the fold×cat table
    "q_text_bm25",       // tf/df off one token exchange, query+df broadcast
    "q_agg_countmin",    // 64-cell sketch exchange regardless of stream size
    "q_twap",            // one per-type lead() window, map-combinable aggregate
    "q_peak_concurrency", // ±1 deltas, day-partitioned running sum (no global scan)
    "q_skew_stats",      // window-free Gini: distinct-frequency pair identity
    "q_quality_gopher",  // rule-kill census: one scan, one global-agg exchange
    "q_gdpr_erasure",    // stats-pruned deleteWhere, snapshot scan downstream
    "q_stream_throttle"  // (user, day) window + map-combinable census
  )

  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    (if (args.isEmpty) flagship else args.toSeq).foreach { name =>
      println(s"\n## $name\n")
      println("```")
      val df = SparkEntry.queries(name)(spark, Bench.sfDir)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      println("```")
    }
    spark.stop()
  }
}
