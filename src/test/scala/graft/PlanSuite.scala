package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan assertions (SURVEY.md §4): the declarative plans must
  * actually produce the scale-ready physical shapes — pushdown into the
  * parquet scan, broadcast for dim joins, TakeOrderedAndProject for global
  * top-k, whole-stage codegen around the native dot product.
  */
class PlanSuite extends SparkSuite {

  private def planOf(name: String, materialize: Boolean = false): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf0001)
    if (materialize) df.collect() // finalize AQE so codegen stages are visible
    df.queryExecution.executedPlan.toString()
  }

  test("filter predicates are pushed into the parquet scan") {
    val p = planOf("q_scan_pushdown")
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("l_shipdate") && p.contains("l_quantity"))
  }

  test("column pruning: projection-only scan reads only the three columns") {
    val p = planOf("q_scan_project")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_extendedprice") && !p.contains("l_discount"))
  }

  test("partitioned layout: lang filter becomes PartitionFilters, not a data filter") {
    val p = planOf("q_source_partitioned")
    // the lang IN predicate must prune directories at planning time —
    // appearing under PartitionFilters, leaving no lang filter over rows
    val scanSection = p.slice(p.indexOf("PartitionFilters"), p.length)
    assert(p.contains("PartitionFilters"), p.take(2000))
    assert(scanSection.take(200).contains("lang"), scanSection.take(400))
  }

  test("dim-lookup join broadcasts the small side") {
    val p = planOf("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("global top-k compiles to TakeOrderedAndProject (no full sort)") {
    val p = planOf("q_topk_global")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("semi/anti joins compile to semi/anti hash joins") {
    assert(planOf("q_join_semi").contains("LeftSemi"))
    assert(planOf("q_join_anti").contains("LeftAnti"))
  }

  test("tpch q6 pushes all three predicates to the scan and joins nothing") {
    val p = planOf("q_tpch_q6")
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("l_shipdate") && p.contains("l_discount") && p.contains("l_quantity"))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("tpch q4 lateness EXISTS compiles to a left semi join") {
    assert(planOf("q_tpch_q4").contains("LeftSemi"))
  }

  test("tpch q22 dormancy compiles to a left anti join with broadcast dims") {
    val p = planOf("q_tpch_q22")
    assert(p.contains("LeftAnti"), p.take(2000))
  }

  test("tpch q7/q14/q17 broadcast every dimension side") {
    for (q <- Seq("q_tpch_q7", "q_tpch_q14", "q_tpch_q17")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: ${p.take(1500)}")
    }
  }

  test("tpch q2/q9/q20 broadcast every dim side; the facts never nested-loop") {
    for (q <- Seq("q_tpch_q2", "q_tpch_q9", "q_tpch_q20")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: ${p.take(1500)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: ${p.take(1500)}")
    }
  }

  test("tpch q20 semi-joins both the red-part filter and the dominant-supplier set") {
    assert(planOf("q_tpch_q20").contains("LeftSemi"))
  }

  test("global band join is rewritten to a bucketed equi join by RewriteRangeJoin") {
    val p = planOf("q_join_band_global")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(p.contains("Generate"), p.take(2000))
  }

  test("native dot product runs inside whole-stage codegen") {
    val p = planOf("q_sim_knn", materialize = true)
    // '*(n)' prefixes mark WholeStageCodegen stages in the plan string —
    // the Project evaluating dot_product_d must carry one.
    val inCodegen = "\\*\\(\\d+\\) Project \\[.*dot_product_d".r
    assert(inCodegen.findFirstIn(p).isDefined, p.take(2000))
  }

  test("dynamic partition pruning fires on a partitioned fact joined to a filtered dim") {
    // STATIC partition pruning is pinned by q_source_partitioned; this
    // pins the DYNAMIC form — the dim-side filter's qualifying keys are
    // injected into the fact scan's PartitionFilters at runtime, so a
    // star join reads only the partitions the dim survives. At 100 TB
    // this is the difference between scanning a whole date-partitioned
    // fact table and scanning the three partitions the dim filter keeps.
    import org.apache.spark.sql.functions.{col, count, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.partitionBy("lang").parquet(s"$dir/fact")
    // the cost heuristic compares estimated pruned bytes against the
    // subquery overhead — at fixture scale (KBs) it rounds to "no
    // benefit", so pin the MECHANISM by lifting the ratio; production
    // sizes clear the default heuristic on their own
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "100000")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.read.parquet(s"$dir/fact")
      import spark.implicits._
      // the dim must be a REAL scan with a Filter node — a Seq.toDF
      // LocalRelation constant-folds the predicate away and DPP's
      // selective-predicate detection never sees it
      Seq(("en", 1L), ("fr", 2L), ("de", 3L), ("es", 4L), ("zh", 5L))
        .toDF("lang", "grp").write.parquet(s"$dir/dim")
      val dim = spark.read.parquet(s"$dir/dim")
      val q = fact.join(dim.filter(col("grp") <= 2), Seq("lang"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString()
      assert(plan.contains("dynamicpruning"),
        s"the fact scan must carry a dynamicpruning partition filter:\n${plan.take(2500)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("percentile fences come from the distribution, not buffered group values") {
    // exact percentile()/percentile_cont is a TypedImperativeAggregate
    // that buffers every group's values in executor memory
    // (ObjectHashAggregate) — a per-group scale-killer over corpus-sized
    // inputs; every fence query on such inputs must run the Dist.fencesX
    // distribution form: hash aggregates + windows only
    for (q <- Seq("q_feat_clip", "q_agg_median", "q_agg_percentile_cont", "q_rfm")) {
      val p = planOf(q)
      assert(!p.contains("ObjectHashAggregate"), s"$q: ${p.take(2000)}")
      assert(!p.contains("percentile"), s"$q: ${p.take(2000)}")
      assert(p.contains("Window"), s"$q: ${p.take(2000)}")
    }
  }

  test("kmeans assignment distance runs as the native sq_dist_l kernel in codegen") {
    // the hottest arithmetic in the clustering stage: k centroid
    // distances per vector per Lloyd round — interpreted lambdas here
    // cost ~10× per row·centroid and dominate at 100× scale
    val p = planOf("q_cluster_kmeans", materialize = true)
    val inCodegen = "\\*\\(\\d+\\) Project \\[.*sq_dist_l".r
    assert(inCodegen.findFirstIn(p).isDefined, p.take(2000))
    assert(!p.contains("ArrayAggregate"), "no interpreted lambda distance may remain")
  }

  test("tfidf joins broadcast the vocabulary-sized tables, never sort-merge the corpus") {
    val p = planOf("q_text_tfidf")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("quantized knn broadcasts the probe set against the candidates") {
    val p = planOf("q_sim_quant")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("bloom runtime filter sits on the probe side before the join, codegen'd") {
    val p = planOf("q_join_bloom")
    // the native BloomFilterMightContain predicate must appear as a Filter
    // in the probe-side scan stage (pre-shuffle pruning) — and as a native
    // expression, NOT a Scala UDF (which would fence whole-stage codegen
    // and box every probe key); the exact join must remain
    assert("Filter .*might_contain".r.findFirstIn(p).isDefined, p.take(2000))
    assert(!"Filter .*UDF".r.findFirstIn(p).isDefined, p.take(2000))
    assert(p.contains("Join") || p.contains("HashJoin"), p.take(2000))
  }

  // Sweep caveat: queries that localCheckpoint an intermediate
  // (q_dedup_minhash, q_dedup_prefix, q_dedup_cluster) render the
  // checkpointed subtree as an opaque Scan ExistingRDD, so the sweeps
  // below cannot see inside it — the pre-checkpoint pipeline shape is
  // covered by the dedup suites instead.
  test("plan sweep: no accidental cartesian or nested-loop joins") {
    // all-pairs similarity, the explicit cross join, the simhash exact
    // hd<=12 pair scan, and the fuzzy-match pair scan over DISTINCT keys
    // are cartesian BY DESIGN (broadcast probe side, input bounded by key
    // cardinality); anything else showing a nested-loop or cartesian
    // product is a planning bug.
    // (q_text_heavy's 1-row scalar total cross join is also by design;
    // q_gap_interp's date-spine = priorities × days, 155 broadcast rows;
    // q_text_tfidf crosses in the 1-row corpus count; q_sim_quant
    // broadcasts the 10-row query set against the candidates)
    // (q_anomaly_iqr and q_rfm cross their 1-row quartile-fence
    // aggregates back over day-/customer-sized tables — broadcast scalars)
    // (q_cluster_kmeans broadcasts the k=8-row centroid table into each
    // Lloyd assignment step — the canonical distributed k-means join;
    // q_tpch_q15 and q_tpch_q22 cross in 1-row max / (count,sum) scalar
    // aggregates — broadcast scalars like q_anomaly_iqr; q_tpch_q11's
    // (total, count) threshold is the same 1-row broadcast scalar)
    // (q_dedup_simhash used to be on this list for its all-pairs NLJ pair
    // scan; the executed path is now the banded hamming LSH equi-join, so
    // it must pass the sweep like any other query)
    // q_sim_recall composes the already-adjudicated q_sim_knn/q_sim_ivf
    // shapes (broadcast probe NLJ, 16-row centroid cross) plus a 1-row
    // n_possible scalar cross
    // q_sim_ivfpq composes the same shapes: the exact-kNN yardstick
    // (broadcast probe NLJ), the 16-row centroid cross, and the 1-row
    // n_possible scalar cross — the candidate/ADC/refine path itself is
    // all equi-joins
    val byDesign = Set("q_sim_knn", "q_sim_label", "q_sim_ivf", "q_sim_recall",
      "q_sim_ivfpq",
      "q_dedup_embed", "q_join_cross",
      "q_str_fuzzy", "q_text_heavy", "q_gap_interp",
      "q_text_tfidf", "q_sim_quant", "q_anomaly_iqr", "q_rfm", "q_cluster_kmeans",
      "q_tpch_q15", "q_tpch_q22", "q_tpch_q11",
      // q_mix_domains crosses in its 1-row (n_tot, w_tot) scalar the same way
      "q_mix_domains",
      // DSIR crosses in its two 1-row count totals (nr, nt)
      "q_dsir_weights",
      // the LSH recall census crosses the 64-row plane broadcast, the
      // ground-truth theta pair join (q_dedup_embed's adjudicated
      // shape), and 1-row count scalars
      "q_lsh_recall",
      // the iterative-BPE consumers cross in the 1-row broadcast merge
      // LIST (32 structs collected to one row) that the fold-apply
      // replaces over — same broadcast-scalar shape as q_mix_domains
      "q_bpe_fertility", "q_pack_sequences",
      // graph kernels cross in 1-row scalars: the vertex count (pagerank)
      // and the mean edge weight (triangle threshold)
      "q_graph_pagerank", "q_graph_triangles",
      // the late-data analog's strict-prefix overlay theta-joins the
      // SUPER-bucket aggregate with itself (#rows/8192/65536 rows —
      // bounded by construction, broadcast; replaces a global window)
      "q_stream_late",
      // the round-7 running-window reworks carry the same metadata-scale
      // super-bucket theta join (graft.ops.Prefix) — it REPLACES the
      // single-task-per-key window, trading a bounded broadcast NLJ over
      // #buckets/superSize rows for full row-level parallelism
      "q_twap", "q_sample_systematic", "q_peak_concurrency",
      // hybrid RRF's dense tower is the q_sim_knn broadcast-probe NLJ,
      // and its sparse tower crosses in the 1-row collection count —
      // both already-adjudicated shapes
      "q_hybrid_rrf",
      // curriculum sharding crosses in its 1-row octile-fence scalar
      // (Dist.fencesX) — broadcast scalar like q_anomaly_iqr
      "q_shard_curriculum",
      // distributed ntile carries the Prefix super-bucket theta join,
      // like the round-7 running-window reworks
      "q_win_ntile",
      // semantic decontam broadcasts the 10-probe benchmark set past the
      // corpus — the q_sim_knn broadcast-probe NLJ shape
      "q_decontam_semantic",
      // the freshness monitor crosses its types-sized aggregate with the
      // 1-row global max — another broadcast scalar
      "q_dq_freshness",
      // PMI crosses in the 1-row corpus token total, like q_text_tfidf
      "q_text_pmi",
      // rarity crosses in the 1-row corpus doc count, like q_text_tfidf
      "q_text_rarity",
      // vocab growth and score decay cross in 1-row max-key/max-day
      // scalars; basket lift crosses in the 1-row basket count — all
      // broadcast scalars like q_text_tfidf
      "q_text_vocab_growth", "q_score_decay", "q_basket_lift",
      // graph CC crosses in the 1-row mean-weight threshold (same scalar
      // as q_graph_triangles); incremental dedup crosses in the 1-row
      // max-doc-id batch cut — broadcast scalars like q_text_tfidf
      "q_graph_cc", "q_dedup_incr",
      // k-core crosses in the same 1-row mean-weight threshold scalar
      "q_graph_kcore",
      // Markov attribution replicates its matrix-sized transition table
      // per removed-channel key (≤ |channels|+1 broadcast rows) and
      // crosses in the 1-row baseline scalar
      "q_attribution_markov",
      // PCA crosses in 1-row scalars (n, the 64-long mean array, the
      // per-round L-inf norm, the Rayleigh quotient) — broadcast scalars
      "q_embed_pca",
      // textrank reuses the pagerank kernel's 1-row vertex-count scalar
      // plus the mean-weight backbone threshold
      "q_text_textrank",
      // the metadata-only aggregate crosses its two 1-row pieces (the
      // tombstone count and the poisoned-file min/max) — broadcast
      // scalars; the string variant is the same statsAggregate shape
      "q_table_stats_agg", "q_stats_agg_string",
      // perceptron rounds broadcast the 1-row weight vector and the
      // 1-row gradient aggregate — broadcast scalars per round
      "q_train_perceptron",
      // link prediction crosses in the same 1-row mean-weight threshold
      // scalar as q_graph_triangles/q_graph_cc
      "q_graph_jaccard",
      // temperature mixing, epoch allocation, and BM25 cross in 1-row
      // total scalars (corpus size / token total) — broadcast scalars
      // like q_text_tfidf
      "q_mix_temperature", "q_mix_epochs", "q_text_bm25",
      // the coverage CDF crosses in the 1-row corpus token total —
      // broadcast scalar like q_text_tfidf
      "q_text_coverage",
      // skew diagnostics: the Gini mean-difference pair join is over the
      // DISTINCT-FREQUENCY table (log-bounded in corpus size by design),
      // plus a 1-row numerator scalar
      "q_skew_stats")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString()
      val bad = (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")) &&
        !byDesign.contains(name)
      if (bad) Some(name) else None
    }
    assert(offenders.isEmpty, s"unexpected cartesian/nested-loop in: $offenders")
  }

  test("plan sweep: NO query plans an unpartitioned window") {
    // Since the late-data analog's prefix overlay became a partitioned
    // window + super-bucket theta join (StreamingAnalogs.bucketPrefixMax),
    // no declared query may move all rows to a single WindowExec
    // partition.
    // Checked on the TREE, not the rendering: a Window with an empty
    // partition spec OMITS the partition bracket entirely (it does not
    // render as '[], [...]'), which is how the historic string match
    // missed the Dist.fencesX / q_text_vocab_growth global windows for
    // five rounds. sparkPlan (post-optimizer, pre-AQE) also catches a
    // constant partition key the optimizer folded back out.
    // A partition key that is PROVABLY CONSTANT — `pmod(_, 1)`, the
    // Dist.fencesX idiom that keeps the optimizer from folding a global
    // window's key out of the spec — also moves every row to one
    // partition: it counts as unpartitioned unless the query is listed
    // below with the bound on its window's input (the list exempts only
    // constant keys; an empty spec fails in every query). The key is
    // traced through the plan's aliases to the expression that computes it.
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId,
      Expression, Literal, Pmod}
    val singlePartitionByDesign = Set(
      // the target-encoding totals run over the |folds|·|categories|
      // aggregate: 5 folds × 5 order priorities = 25 rows
      "q_feat_target_encode",
      // the cumulative new-token curve runs over the per-decile counts:
      // ≤ 10 rows
      "q_text_vocab_growth",
      // Dist.fencesX over one column's DISTINCT values: recency ≤ the
      // order-date span (~2,400 days), frequency ≤ the largest order
      // count per customer, money ≤ |customer| (150,000·SF) — the last
      // grows with the table
      "q_rfm",
      // Dist.fencesX over the distinct per-document perplexities:
      // ≤ |documents| rows — grows with the corpus
      "q_shard_curriculum")
    def constantKey(plan: org.apache.spark.sql.execution.SparkPlan): Expression => Boolean = {
      val defs: Map[ExprId, Expression] = plan.flatMap(_.expressions)
        .flatMap(_.collect { case a: Alias => a.exprId -> a.child }).toMap
      def const(e: Expression): Boolean = e match {
        case _ if e.foldable => true
        case Pmod(_, Literal(m, _), _) if m != null && Set("1", "-1")(m.toString) => true
        case a: Attribute => defs.get(a.exprId).exists(const)
        case _ => e.deterministic && e.children.nonEmpty && e.children.forall(const)
      }
      const
    }
    val global = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val phys = SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.sparkPlan
      val constant = constantKey(phys)
      phys.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty ||
            (w.partitionSpec.forall(constant) && !singlePartitionByDesign(name)) => w
      }.nonEmpty
    }
    assert(global.isEmpty, s"unpartitioned windows in: $global")
  }

  test("decontam probes the corpus with a broadcast of the benchmark gram set") {
    val p = planOf("q_decontam")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("pii scrub is a single narrow pass: no joins, no aggregates") {
    val p = planOf("q_pii_scrub")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p.take(2000))
  }

  test("grouped aggregation uses two-phase hash aggregation") {
    val p = planOf("q_agg_group")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"), "expected map-side partial aggregation")
  }

  test("typed cogroup: one CoGroup node, one exchange per input side") {
    val p = planOf("q_join_cogroup")
    assert(p.contains("CoGroup"), p.take(2000))
    // Count SHUFFLE exchanges specifically ("Exchange hashpartitioning" /
    // "Exchange rangepartitioning") — a bare "Exchange" substring also
    // matches BroadcastExchange and AQE wrapper names, which would let a
    // real extra shuffle hide behind a renamed broadcast node.
    val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    // two input hash exchanges + the final orderBy range exchange
    assert(shuffles <= 3, s"$shuffles shuffle exchanges\n" + p.take(3000))
  }

  test("jdbc source reads as a partitioned scan (4 stride predicates, not 1 connection)") {
    val p = planOf("q_source_jdbc")
    // JDBCRelation renders its partition count; a single-partition scan
    // would serialize the whole table through one task and one connection
    assert(p.contains("numPartitions=4"), p.take(3000))
  }

  test("text rarity: vocabulary stats broadcast, corpus never pair-joins") {
    val p = planOf("q_text_rarity")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("simhash pair stage is the banded-LSH equi-join, not a broadcast NLJ") {
    val p = planOf("q_dedup_simhash")
    // recall-exact pigeonhole banding: candidates come from an equi-join
    // on (bank, bkey) — any nested-loop/cartesian here means the O(n²)
    // all-pairs branch leaked back into the executed path
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    assert(p.contains("bank"), p.take(3000))
  }

  test("snapshot diff: a single full-outer join, no broadcast of either snapshot") {
    val p = planOf("q_table_diff")
    assert(p.contains("FullOuter"), p.take(2000))
    // both versions are table-scale: the merge key join must co-partition,
    // never ship a whole snapshot
    assert(!p.contains("BroadcastHashJoin FullOuter"), p.take(3000))
  }

  test("vocabulary drift: pair joins broadcast, the corpus is never sort-merge joined") {
    val p = planOf("q_text_drift")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("containment reads the materialized candidate table, not the corpus") {
    val p = planOf("q_dedup_contain")
    // interCounts is checkpoint-shared with q_dedup_near: the measure is a
    // filter over the materialized pair counts — no parquet scan remains
    assert(!p.contains("Scan parquet"), p.take(3000))
  }
}
