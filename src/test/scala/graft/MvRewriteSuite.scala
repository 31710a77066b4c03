package graft

import org.apache.spark.sql.functions._
import graft.plans.{MvDef, MvRegistry, RewriteSummaryAgg}

/** Pins the transparent materialized-view roll-up rewrite
  * (graft.plans.RewriteSummaryAgg): the declared q_mv_rewrite query must
  * EXECUTE against the registered (source, lang) summary instead of the
  * base corpus parquet, with bit-identical results; every non-covered
  * shape must be left untouched.
  */
class MvRewriteSuite extends SparkSuite {
  import spark.implicits._

  private def executedPlanOf(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString()

  test("q_mv_rewrite executes against the summary, not the base table") {
    val p = executedPlanOf("q_mv_rewrite")
    assert(p.contains("graft_mv"), s"summary scan missing:\n${p.take(3000)}")
    assert(!p.contains("documents.parquet"),
      s"base scan should have been rewritten away:\n${p.take(3000)}")
  }

  test("rewritten results equal the direct base-table aggregate") {
    val viaMv = SparkEntry.queries("q_mv_rewrite")(spark, sf0001).collect()
    // the same aggregate, shaped so the rule cannot match (computed
    // grouping column defeats the plain-attribute guard)
    val direct = Tables.documents(spark, sf0001)
      .groupBy(concat(col("lang"), lit("")).as("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        avg(col("n_chars")).as("avg_chars"))
      .orderBy("lang")
      .collect()
    assert(viaMv.map(_.toString).toSeq == direct.map(_.toString).toSeq)
  }

  test("a filter on summary KEY columns is re-applied on the summary (slice + roll-up)") {
    SparkEntry.queries("q_mv_rewrite")(spark, sf0001) // ensure registered
    val df = Tables.documents(spark, sf0001)
      .filter(col("source") =!= "src1") // key column NOT in the grouping
      .groupBy(col("lang"))
      .agg(sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("graft_mv"), p.take(2000))
    val direct = Tables.documents(spark, sf0001)
      .filter(col("source") =!= "src1")
      .groupBy(concat(col("lang"), lit("")).as("lang"))
      .agg(sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
    assert(df.collect().map(_.toString).toSeq ==
      direct.collect().map(_.toString).toSeq)
  }

  test("a filter on a MEASURE column defeats the rewrite (rows inside groups)") {
    SparkEntry.queries("q_mv_rewrite")(spark, sf0001)
    val p = Tables.documents(spark, sf0001)
      .filter(col("n_chars") > 100)
      .groupBy(col("lang"))
      .agg(sum(col("n_chars")).as("sum_chars"))
      .queryExecution.executedPlan.toString()
    assert(!p.contains("graft_mv"), p.take(2000))
  }

  test("an unsupported aggregate (countDistinct) defeats the rewrite") {
    SparkEntry.queries("q_mv_rewrite")(spark, sf0001)
    val p = Tables.documents(spark, sf0001)
      .groupBy(col("lang"))
      .agg(sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("source")).as("n_src"))
      .queryExecution.executedPlan.toString()
    assert(!p.contains("graft_mv"), p.take(2000))
  }

  test("a count-only aggregate is deliberately NOT rewritten (plan determinism)") {
    SparkEntry.queries("q_mv_rewrite")(spark, sf0001)
    // q_mix_domains' cnt sub-aggregate shape: groupBy(source).count(*)
    val p = Tables.documents(spark, sf0001)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"))
      .queryExecution.executedPlan.toString()
    assert(!p.contains("graft_mv"), p.take(2000))
  }

  test("grouping outside the summary key set defeats the rewrite") {
    SparkEntry.queries("q_mv_rewrite")(spark, sf0001)
    val p = Tables.documents(spark, sf0001)
      .groupBy(col("doc_id"))
      .agg(sum(col("n_chars")).as("sum_chars"))
      .queryExecution.executedPlan.toString()
    assert(!p.contains("graft_mv"), p.take(2000))
  }

  test("a covered sibling aggregate IS accelerated once registered") {
    SparkEntry.queries("q_mv_rewrite")(spark, sf0001)
    // coarser roll-up to source over sum/min partials — covered, rewritten
    val df = Tables.documents(spark, sf0001)
      .groupBy(col("source"))
      .agg(sum(col("n_chars")).as("sum_chars"), min(col("n_chars")).as("min_chars"))
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("graft_mv"), p.take(2000))
    val direct = Tables.documents(spark, sf0001)
      .groupBy(concat(col("source"), lit("")).as("source"))
      .agg(sum(col("n_chars")).as("sum_chars"), min(col("n_chars")).as("min_chars"))
    assert(df.orderBy("source").collect().map(_.toString).toSeq ==
      direct.orderBy("source").collect().map(_.toString).toSeq)
  }

  test("q_mv_incr executes against the committed partial store, not events") {
    val p = executedPlanOf("q_mv_incr")
    assert(p.contains("graft_mv_incr"), s"partial-store scan missing:\n${p.take(3000)}")
    assert(!p.contains("events.parquet"),
      s"base scan should have been rewritten away:\n${p.take(3000)}")
  }

  test("incremental MV equals the direct recompute after a replayed batch") {
    val viaMv = SparkEntry.queries("q_mv_incr")(spark, sf0001).collect()
    val direct = Tables.events(spark, sf0001)
      .groupBy(concat(col("event_type"), lit("")).as("event_type"))
      .agg(count(lit(1)).as("n_events"), count(col("value")).as("n_vals"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .orderBy("event_type")
      .collect()
    assert(viaMv.map(_.toString).toSeq == direct.map(_.toString).toSeq)
  }

  test("MV preference is deterministic: fewest keys, then name") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    // two fake defs over the same base: coarser (1 key) must win over
    // finer (2 keys) regardless of registration order
    val base = MvRegistry.pathsOf(
      spark.read.parquet(s"$sf0001/documents.parquet"))
    def planOfMv(q: String): LogicalPlan =
      spark.read.parquet(ops.Quality.docsMvPath(sf0001))
        .queryExecution.analyzed
    SparkEntry.queries("q_mv_rewrite")(spark, sf0001) // registers docs_src_lang
    val defs = MvRegistry.forSession(spark)
    assert(defs.nonEmpty)
    // registering the SAME summary under a later-sorting name must not
    // change the chosen plan (same groupCols size, name tiebreak)
    MvRegistry.register(spark, MvDef("zz_dup", base, Set("source", "lang"),
      planOfMv("dup")))
    try {
      val p = Tables.documents(spark, sf0001)
        .groupBy(col("lang")).agg(sum(col("n_chars")).as("sum_chars"))
        .queryExecution.executedPlan.toString()
      assert(p.contains("graft_mv"), p.take(2000))
    } finally MvRegistry.unregister(spark, "zz_dup")
  }

  test("streaming maintenance: foreachBatch partials with injected replays serve the rewrite") {
    import org.apache.spark.sql.{DataFrame, Encoders}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.ManifestTable
    val t = java.nio.file.Files.createTempDirectory("graft-mv-stream").toString
    val rows = Tables.events(spark, sf0001)
      .select("event_id", "user_id", "event_type", "value", "t")
      .as[Ev].collect().toSeq
    val ms = MemoryStream(Encoders.product[Ev], spark.sqlContext)
    val q = ms.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the whole maintenance step: one map-combinable partial aggregate
        // of the batch, committed exactly-once; the injected second call is
        // Structured Streaming's at-least-once foreachBatch replay
        val partial = batch.groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("cnt"),
            min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        ManifestTable.idempotentAppend(spark, t, partial, id)
        ManifestTable.idempotentAppend(spark, t, partial, id) // injected replay
        ()
      }.start()
    try {
      rows.grouped(math.max(1, rows.size / 3)).foreach { c =>
        ms.addData(c); q.processAllAvailable()
      }
    } finally q.stop()
    // the streaming-maintained store answers the covered aggregate; the
    // incr def over the same base is parked so preference can't mask this
    MvRegistry.unregister(spark, s"events_incr:$sf0001")
    MvRegistry.register(spark, MvDef(s"events_stream:$sf0001",
      MvRegistry.pathsOf(spark.read.parquet(s"$sf0001/events.parquet")),
      Set("event_type", "user_id"),
      ManifestTable.read(spark, t).queryExecution.analyzed))
    try {
      val df = Tables.events(spark, sf0001)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .orderBy("event_type")
      val p = df.queryExecution.executedPlan.toString()
      assert(p.contains("graft-mv-stream"), p.take(2000))
      val direct = Tables.events(spark, sf0001)
        .groupBy(concat(col("event_type"), lit("")).as("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .orderBy("event_type")
      assert(df.collect().map(_.toString).toSeq ==
        direct.collect().map(_.toString).toSeq)
    } finally MvRegistry.unregister(spark, s"events_stream:$sf0001")
  }

  test("compaction folds the partial store without changing any answer") {
    import graft.sources.ManifestTable
    // rebuild the q_mv_incr partial store (3 batches + replay), then
    // COMPACT: one overwrite snapshot holding exactly one merged row per
    // group — sum-of-sums/min-of-mins over partials, the same
    // re-association the rewrite itself performs, so answers can't move
    SparkEntry.queries("q_mv_incr")(spark, sf0001)
    // r8: the MV summary lives under <root>/mv beside its ODS table,
    // since q_mv_incr now drains the ODS commit log via ChangeFeed
    val t = s"${graft.Scratch.sfDir("graft_mv_incr", sf0001)}/mv"
    val before = ManifestTable.read(spark, t)
    val nPartials = before.count()
    val nGroups = before.select("event_type", "user_id").distinct().count()
    assert(nPartials > nGroups, s"3 batches must overlap groups: $nPartials vs $nGroups")
    val compacted = before.groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("cntn_value")).as("cntn_value"),
        min(col("min_value")).as("min_value"), max(col("max_value")).as("max_value"))
    ManifestTable.overwrite(spark, t, compacted)
    assert(ManifestTable.read(spark, t).count() == nGroups)
    // re-register the compacted snapshot; the covered aggregate still
    // matches the direct recompute exactly
    MvRegistry.register(spark, MvDef(s"events_incr:$sf0001",
      MvRegistry.pathsOf(spark.read.parquet(s"$sf0001/events.parquet")),
      Set("event_type", "user_id"),
      ManifestTable.read(spark, t).queryExecution.analyzed))
    val df = Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .orderBy("event_type")
    assert(df.queryExecution.executedPlan.toString().contains("graft_mv_incr"))
    val direct = Tables.events(spark, sf0001)
      .groupBy(concat(col("event_type"), lit("")).as("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .orderBy("event_type")
    assert(df.collect().map(_.toString).toSeq ==
      direct.collect().map(_.toString).toSeq)
  }

  test("the rewrite fires for SQL-text queries over a view of the base table") {
    SparkEntry.queries("q_mv_rewrite")(spark, sf0001) // registers the summary
    Tables.documents(spark, sf0001).createOrReplaceTempView("docs_mv_sql")
    val df = spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
                avg(n_chars) AS avg_chars
         FROM docs_mv_sql GROUP BY lang""")
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("graft_mv"), p.take(2000))
    assert(!p.contains("documents.parquet"), p.take(2000))
  }

  test("the rule is a fixpoint: a rewritten plan is not rewritten again") {
    val opt = SparkEntry.queries("q_mv_rewrite")(spark, sf0001)
      .queryExecution.optimizedPlan
    assert(RewriteSummaryAgg(opt) == opt)
  }

  test("the build guard suppresses rewriting while a summary is rebuilt") {
    SparkEntry.queries("q_mv_rewrite")(spark, sf0001)
    val covered = Tables.documents(spark, sf0001)
      .groupBy(col("lang")).agg(sum(col("n_chars")).as("sum_chars"))
    MvRegistry.buildGuard(spark) {
      val p = covered.queryExecution.executedPlan.toString()
      assert(!p.contains("graft_mv"), p.take(2000))
    }
  }
}
