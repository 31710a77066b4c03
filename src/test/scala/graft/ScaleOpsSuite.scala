package graft

import org.apache.spark.sql.functions._
import graft.ops.ScaleOps

/** Tests for the scale-technique operators (ops/ScaleOps.scala): the
  * bloom prefilter must not change the join result, the mode tiebreak
  * must agree with Spark's native deterministic mode, and hash-stratified
  * sampling must hit its nominal per-stratum rates. */
class ScaleOpsSuite extends SparkSuite {
  import spark.implicits._

  test("q_join_bloom: bloom prefilter is result-identical to the plain join") {
    val got = ScaleOps.qJoinBloom(spark, sf0001)
      .as[(String, Long, String)].collect().toSeq
    val urgent = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val want = Tables.lineitem(spark, sf0001)
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), Dsl.decStr(sum(Dsl.dec(col("l_quantity")))).as("sum_qty"))
      .orderBy("l_returnflag")
      .as[(String, Long, String)].collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("q_agg_mode tiebreak matches native mode(col, deterministic=true)") {
    val viaWindow = ScaleOps.qAggMode(spark, sf0001)
      .select("o_orderstatus", "mode_priority")
      .as[(String, String)].collect().toMap
    val native = Tables.orders(spark, sf0001)
      .groupBy("o_orderstatus")
      .agg(mode(col("o_orderpriority"), deterministic = true).as("m"))
      .as[(String, String)].collect().toMap
    assert(viaWindow == native && viaWindow.nonEmpty)
  }

  test("q_pipeline_clean: stage counts are monotone and match the standalone ops") {
    val rows = ScaleOps.qPipelineClean(spark, sf0001)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (lang, nIn, nQ, nF, chars, tokens) =>
      assert(nIn >= nQ && nQ >= nF, s"$lang: $nIn >= $nQ >= $nF violated")
      assert(nF == 0 || (chars > 0 && tokens > 0), s"$lang: empty budgets for $nF docs")
    }
    // total input must equal the corpus size
    val corpus = Tables.documents(spark, sf0001).count()
    assert(rows.map(_._2).sum == corpus)
  }

  test("native top-k operator == window-form q_win_topk, and plans two-phase with one exchange") {
    val native = SparkEntry.queries("q_topk_native")(spark, sf0001)
    val window = SparkEntry.queries("q_win_topk")(spark, sf0001)
    val got = native.as[(Long, Long, Long)].collect().toSeq
    val want = window.as[(Long, Long, Long)].collect().toSeq
    assert(got == want && got.nonEmpty)
    // partial heaps below the exchange, final heaps above it
    val p = native.queryExecution.executedPlan.toString()
    // node prints positionally: "TopKPerGroup [groups], [orders], k, partial"
    assert("TopKPerGroup .*, 3, false[\\s\\S]*Exchange hashpartitioning[\\s\\S]*TopKPerGroup .*, 3, true".r
      .findFirstIn(p).isDefined, p.take(3000))
  }

  test("native top-k edge cases: k exceeding group size, ties broken by the tiebreak column") {
    import org.apache.spark.sql.graft.TopK
    val df = Seq(
      ("a", 10, 1L), ("a", 10, 2L), ("a", 5, 3L),          // tie on value 10
      ("b", 7, 4L)                                          // group smaller than k
    ).toDF("g", "v", "id")
    val got = TopK.perGroup(df, Seq("g"), Seq(("v", true), ("id", false)), 2)
      .as[(String, Int, Long)].collect().toSet
    assert(got == Set(("a", 10, 1L), ("a", 10, 2L), ("b", 7, 4L)))
  }

  test("native top-k null ordering matches the window form (desc => nulls last)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.TopK
    val df = Seq[(String, Option[Int], Long)](
      ("a", Some(5), 1L), ("a", None, 2L), ("a", Some(9), 3L), ("b", None, 4L), ("b", None, 5L)
    ).toDF("g", "v", "id")
    val got = TopK.perGroup(df, Seq("g"), Seq(("v", true), ("id", false)), 2)
      .as[(String, Option[Int], Long)].collect().toSet
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
    val want = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select("g", "v", "id").as[(String, Option[Int], Long)].collect().toSet
    assert(got == want, s"got $got want $want")
  }

  test("native top-k == window form on seeded random data across k values") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.TopK
    val rng = new scala.util.Random(42)
    for (trial <- 0 until 3; k <- Seq(1, 2, 4)) {
      // skewed groups + heavy value ties to stress heap eviction order
      val rows = Seq.tabulate(400) { i =>
        (rng.nextInt(8).toLong, rng.nextInt(5), i.toLong)
      }
      val df = rows.toDF("g", "v", "id").repartition(7)
      val got = TopK.perGroup(df, Seq("g"), Seq(("v", true), ("id", false)), k)
        .as[(Long, Int, Long)].collect().toSet
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
      val want = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select("g", "v", "id").as[(Long, Int, Long)].collect().toSet
      assert(got == want, s"trial=$trial k=$k")
    }
  }

  test("connectedComponents == local union-find on seeded random graphs") {
    val rng = new scala.util.Random(7)
    for (trial <- 0 until 4) {
      val n = 60 + rng.nextInt(80)
      val edges = Seq.fill(n) {
        (rng.nextInt(100).toLong, rng.nextInt(100).toLong)
      }.filter { case (a, b) => a != b }
      // local union-find reference
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // canonical label = min node id per component
      val want = nodes.groupBy(find).flatMap { case (_, members) =>
        val lbl = members.min; members.map(_ -> lbl)
      }.toMap
      val got = graft.ops.Dedup.connectedComponents(edges.toDF("d1", "d2"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"trial=$trial n=${edges.size}")
    }
  }

  test("driver contract: every oracle key names a declared query; no duplicate names across modules") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle entries without a query: ${o -- q}")
    // the no-oracle set is deliberate and documented in SURVEY §8
    val noOracle = q -- o
    assert(noOracle == Set("q_agg_approx_distinct",
      "q_sim_ivf", "q_dedup_lsh", "q_agg_sketch_merge"),
      s"unexpected no-oracle set: $noOracle")
    // module maps must not shadow each other (Map ++ silently keeps the last)
    val perModule = Seq(
      ops.Relational.queries, ops.Aggregations.queries, ops.Joins.queries,
      ops.Windows.queries, ops.ScalarFuncs.queries, ops.Udfs.queries,
      ops.StreamingAnalogs.queries, ops.Dedup.queries, ops.TextSim.queries,
      ops.Advanced.queries, ops.Warehouse.queries, ops.ScaleOps.queries,
      ops.TrainingOps.queries, ops.Quality.queries, ops.Tpch.queries,
      ops.Graph.queries, ops.Features.queries, ops.Mining.queries,
      ops.Formats.queries)
    assert(perModule.map(_.size).sum == q.size,
      "duplicate query names across modules would be silently shadowed")
  }

  test("GraftExtensions wires rule, strategy, and SQL function into a SparkSessionExtensions") {
    // `spark.sql.extensions` is a STATIC conf read from the SparkContext at
    // first-session build, so the config path can't be exercised against the
    // suite's shared context — drive the extension object directly instead
    // (exactly what SparkSession.applyExtensions does with it).
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.graft.{ExtensionsProbe, TopKPerGroupStrategy}
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(ExtensionsProbe.plannerStrategies(ext, spark).contains(TopKPerGroupStrategy))
    assert(ExtensionsProbe.optimizerRules(ext, spark).contains(graft.expr.RewriteDotProduct))
    // the same SQL functions Engine.init registers
    Seq("dot_product_d", "sq_dist_l", "minhash_sigs").foreach(f =>
      assert(ExtensionsProbe.registersFunction(ext, f), f))
  }

  test("sketch merge: two-level HLL union == direct sketch, and within 5% of exact") {
    val twoLevel = ScaleOps.qAggSketchMerge(spark, sf0001)
      .select("event_type", "est_uv").as[(String, Long)].collect().toMap
    val direct = Tables.events(spark, sf0001)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("e"))
      .as[(String, Long)].collect().toMap
    // HLL registers are max-based: union of daily sketches must reproduce
    // the direct sketch exactly, not just approximately
    assert(twoLevel == direct && twoLevel.nonEmpty)
    val exact = Tables.events(spark, sf0001)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap
    twoLevel.foreach { case (tpe, est) =>
      val ex = exact(tpe)
      assert(math.abs(est - ex).toDouble / ex <= 0.05, s"$tpe: est $est vs exact $ex")
    }
  }

  test("stratified sample rates: each stratum lands near its nominal keep rate") {
    val totals = Tables.events(spark, sf0001)
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    val sampled = ScaleOps.qSampleStratified(spark, sf0001)
      .select("event_type", "n").as[(String, Long)].collect().toMap
    val nominal = Map("purchase" -> 0.5, "click" -> 0.25).withDefaultValue(0.125)
    sampled.foreach { case (tpe, n) =>
      val rate = n.toDouble / totals(tpe)
      val p = nominal(tpe)
      // md5 digits are ~uniform; 4σ binomial tolerance at these stratum sizes
      val tol = 4 * math.sqrt(p * (1 - p) / totals(tpe))
      assert(math.abs(rate - p) <= tol,
        s"$tpe: rate $rate vs nominal $p (n=$n/${totals(tpe)}, tol $tol)")
    }
    assert(sampled.keySet == totals.keySet)
  }

  test("weighted sampling plans two-phase TopKPerGroup and overweights heavy docs") {
    val df = SparkEntry.queries("q_sample_weighted")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString()
    // partial heaps below the exchange, final heaps above — never a
    // per-language sort of the corpus
    assert(
      "TopKPerGroup .*, 10, false[\\s\\S]*Exchange hashpartitioning[\\s\\S]*TopKPerGroup .*, 10, true".r
        .findFirstIn(p).isDefined, p.take(3000))
    // weight = n_chars: the selected docs' mean length must exceed the
    // corpus mean (that is what proportional-to-weight sampling buys)
    val selMean = df.agg(avg(col("n_chars"))).as[Double].head()
    val corpusMean = Tables.documents(spark, sf0001)
      .agg(avg(col("n_chars"))).as[Double].head()
    assert(selMean > corpusMean,
      s"selected mean $selMean should exceed corpus mean $corpusMean")
  }
}
