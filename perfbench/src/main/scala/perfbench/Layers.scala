package perfbench

import java.nio.file.{Files, Paths}

/** Per-layer metrics shared by every workload, from the [[Tracer]]. Counts
  * and times are per operation (a query, a lake call or a micro-batch);
  * a layer a workload leaves idle reads 0. */
object Layers {

  def common(t: Tracer, ctx: Ctx, wallS: Double, nOps: Int): Map[String, Double] = {
    t.drain()
    val spans = t.spans
    writeSpans(spans, ctx)
    val self = Stats.layerSelfNs(spans)
    val ops = t.opRecords
    val n = math.max(1, nOps).toDouble
    def perOp(x: Double) = x / n
    val buildJobs = ops.map { o =>
      t.jobsOf(o.id).count { case (s, _) => s < o.buildEndNs }
    }.sum
    def selfS(prefix: String) =
      self.collect { case (l, ns) if l.startsWith(prefix) => ns }.sum / 1e9 / n
    Map(
      "ops.build_s" -> perOp(ops.map(o => o.buildEndNs - o.startNs).sum / 1e9),
      "ops.build_jobs" -> perOp(buildJobs),
      "catalyst.plan_s" -> perOp(t.planS),
      "spark.jobs" -> perOp(t.jobs.get),
      "spark.stages" -> perOp(t.stages.get),
      "spark.tasks" -> perOp(t.tasks.get),
      "spark.busy_share" -> t.execRunNs.get / 1e9 / (wallS * ctx.cores),
      "shuffle.write_bytes" -> perOp(t.shuffleWrite.get),
      "shuffle.read_bytes" -> perOp(t.shuffleRead.get),
      "shuffle.spill_bytes" -> perOp(t.spill.get),
      "Tables.input_bytes" -> perOp(t.inputBytes.get),
      "Tables.input_rows" -> perOp(t.inputRows.get),
      "expr.native_agg_s" -> perOp(t.nativeAggS),
      "ops.self_s" -> selfS("ops."),
      "exec.self_s" -> selfS("exec"),
      "catalyst.self_s" -> selfS("catalyst."),
      "spark.self_s" -> selfS("spark."),
      "stream.self_s" -> selfS("stream."),
      "trace.overhead_share" -> t.callbackNs.get / 1e9 / wallS)
  }

  /** Spans go to one JSON-lines file per run, written after measuring. */
  private def writeSpans(spans: Seq[Stats.Span], ctx: Ctx): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.createDirectories(Paths.get(ctx.spansDir))
    Files.write(Paths.get(ctx.spansDir, s"spans-${ctx.workload}-${ctx.seed}.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
