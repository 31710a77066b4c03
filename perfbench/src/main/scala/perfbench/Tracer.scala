package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Stats.Span

/** Per-layer instrumentation from Spark's public listener APIs, attached
  * from the benchmark only (the engine carries no spans).
  *
  * Client operations (a query, a lake call) are bracketed by [[op]]; the
  * op id rides on the jobs it submits as a local property, so each job
  * span finds its operation even though listener events arrive late on
  * the listener bus. Micro-batches are operations too: their jobs carry
  * the streaming batch properties instead. Only work of an operation is
  * counted: jobs and stages without an op key (the harness's result
  * dumps, model checks and untimed drains) and planning outside every
  * operation's window are left out. Everything stays in memory until
  * [[spans]] is read at the end of the run. */
class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  // wall-clock (listener event times) to System.nanoTime
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNs(ms: Long): Long = ms * 1000000L + nsOffset

  val jobs, stages, tasks = new AtomicLong()
  val execRunNs, shuffleWrite, shuffleRead, spill, inputBytes, inputRows = new AtomicLong()
  val callbackNs = new AtomicLong()

  /** One record per client operation. */
  case class OpRec(id: Long, kind: String, startNs: Long, buildEndNs: Long, endNs: Long)
  private val ops = ArrayBuffer.empty[OpRec]
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
  private val stageOp = scala.collection.concurrent.TrieMap.empty[Int, String]
  private val jobSpans = ArrayBuffer.empty[(String, Long, Long)] // (op key, start, end)
  /** Per successful query execution: its planning phases and the
    * aggregation time of its `graft.expr` aggregates, in ms. */
  private case class Exec(phases: Seq[(Long, Long)], nativeAggMs: Long)
  private val execs = ArrayBuffer.empty[Exec]
  val progress = ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val nextOp = new AtomicLong()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  /** The operation a job or stage belongs to: a client op id, a
    * micro-batch `queryId/batchId`, or "-" for harness work. */
  private def opKey(props: java.util.Properties): String = {
    val p = Option(props)
    p.flatMap(x => Option(x.getProperty("perfbench.op")))
      .orElse(p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))
        .map(b => s"${x.getProperty("sql.streaming.queryId")}/$b")))
      .getOrElse("-")
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val key = opKey(e.properties)
      if (key != "-") jobs.incrementAndGet()
      jobStart.put(e.jobId, (msToNs(e.time), key))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      stageOp.put(e.stageInfo.stageId, opKey(e.properties))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobStart.remove(e.jobId).foreach { case (s, k) =>
        jobSpans.synchronized(jobSpans += ((k, s, msToNs(e.time))))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      if (stageOp.remove(i.stageId).exists(_ != "-")) countStage(i)
    }
    private def countStage(i: StageInfo): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(i.numTasks)
      val m = i.taskMetrics
      if (m != null) {
        execRunNs.addAndGet(m.executorRunTime * 1000000L)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        inputRows.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  private object planWalker extends AdaptiveSparkPlanHelper {
    def nativeAggMs(plan: SparkPlan): Long =
      collectWithSubqueries(plan) {
        case a: BaseAggregateExec if a.aggregateExpressions.exists(
            _.aggregateFunction.getClass.getName.startsWith("graft.")) =>
          a.metrics.get("aggTime").map(_.value).getOrElse(0L)
      }.sum
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      val ph = qe.tracker.phases
      val phases = Seq("analysis", "optimization", "planning").flatMap(ph.get)
        .map(s => (msToNs(s.startTimeMs), msToNs(s.endTimeMs)))
      val x = Exec(phases, planWalker.nativeAggMs(qe.executedPlan))
      execs.synchronized(execs += x)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      progress.synchronized(progress += e)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Bracket one client operation: `build` makes the work (query builder,
    * DataFrame construction; may run eager jobs), `exec` materializes it. */
  def op[A, B](kind: String)(build: => A)(exec: A => B): B = {
    val id = nextOp.incrementAndGet()
    sc.setLocalProperty("perfbench.op", id.toString)
    val t0 = System.nanoTime()
    try {
      val a = build
      val t1 = System.nanoTime()
      val b = exec(a)
      ops.synchronized(ops += OpRec(id, kind, t0, t1, System.nanoTime()))
      b
    } finally sc.setLocalProperty("perfbench.op", null)
  }

  /** Wait for the listener bus to deliver every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def opRecords: Seq[OpRec] = ops.synchronized(ops.toList)

  /** (start, end) of every job operation `id` submitted. */
  def jobsOf(id: Long): Seq[(Long, Long)] =
    jobSpans.synchronized(jobSpans.filter(_._1 == id.toString).map(j => (j._2, j._3)).toList)

  private def batches: Seq[(String, Long, Long)] =
    progress.synchronized(progress.toList).map(_.progress).filter(_.numInputRows > 0).map { p =>
      val start = msToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      (s"${p.id}/${p.batchId}", start,
        start + p.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L)
    }

  /** Query executions that began inside an operation or a micro-batch. */
  private def opExecs: Seq[Exec] = {
    val windows = opRecords.map(o => (o.startNs, o.endNs)) ++ batches.map(b => (b._2, b._3))
    execs.synchronized(execs.toList).filter { x =>
      x.phases.headOption.exists { case (s, _) => windows.exists(w => s >= w._1 && s < w._2) }
    }
  }

  /** Seconds of analysis, optimization and planning inside operations. */
  def planS: Double = opExecs.flatMap(_.phases).map { case (s, e) => e - s }.sum / 1e9

  /** Seconds spent building `graft.expr` aggregates inside operations. */
  def nativeAggS: Double = opExecs.map(_.nativeAggMs).sum / 1e3

  /** The span tree: per client op a root, a build and an exec child, the
    * op's jobs under whichever child they started in, and planning
    * phases under the op whose window holds them; per micro-batch a root
    * trigger span with its jobs. */
  def spans: Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    var sid = 0L
    def add(parent: Long, op: Long, layer: String, s: Long, e: Long): Long = {
      sid += 1; out += Span(sid, parent, op, layer, s, e); sid
    }
    val plans = opExecs.flatMap(_.phases).sortBy(_._1)
    opRecords.foreach { o =>
      val root = add(0, o.id, s"client.${o.kind}", o.startNs, o.endNs)
      val b = add(root, o.id, "ops.build", o.startNs, o.buildEndNs)
      val x = add(root, o.id, "exec", o.buildEndNs, o.endNs)
      def under(t: Long) = if (t < o.buildEndNs) b else x
      jobsOf(o.id).foreach { case (s, e) => add(under(s), o.id, "spark.job", s, e) }
      plans.filter(p => p._1 >= o.startNs && p._1 < o.endNs)
        .foreach { case (s, e) => add(under(s), o.id, "catalyst.plan", s, e) }
    }
    var batchOp = 1000000000L
    batches.foreach { case (key, start, end) =>
      batchOp += 1
      val root = add(0, batchOp, "stream.trigger", start, end)
      jobSpans.synchronized(jobSpans.filter(_._1 == key).toList)
        .foreach { case (_, s, e) => add(root, batchOp, "spark.job", s, e) }
    }
    out.toList
  }
}
