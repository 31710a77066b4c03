package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{EvRow, UserPurchaseTotal}

/** Open loop: one generator thread writes seeded event files into a source
  * directory on a fixed schedule (plain JVM I/O, no Spark jobs), whatever
  * the job does. The job is the real-time DWS shape built from StreamOps on
  * a processing-time trigger: the watermarked stream feeds streaming dedup,
  * the keyed per-user purchase totals (flatMapGroupsWithState) and the
  * click→purchase stream-stream join, each a query with a `foreachBatch`
  * sink that records when its results are emitted.
  *
  * Each event is a seeded draw of (user, type, value) from the fixture
  * events table at the pool's scale, so the user population and the type
  * mix are the fixture's; the generator adds only the timing.
  *
  * A run has two phases. At the reference rate, latency is timed per
  * purchase event from its DUE time (its creation stamp) to the emission of
  * the totals batch that counts it: a user's n-th purchase in file order is
  * counted by the first batch whose total for that user reaches n. Then a
  * burst of files is written at once; the source takes at most
  * `MaxFilesPerTrigger` files a batch, so every query drains it in several
  * full batches, and the throughput is the burst's events over the
  * slowest query's summed batch time: the rate the job processes input
  * while it is busy, whatever the burst's size. */
object StreamIngest extends Workload {

  // Chosen constants (no source gives them; the README names them).
  /** Open-loop rate of the reference phase, events/s; its latency is
    * reported. Its backlog verdict is in the run detail. */
  val RefRate = 200.0
  /** The generator writes files of this many events: in the reference
    * phase one each time that many have fallen due (every 250 ms). */
  val FileEvents = 50
  /** Files per micro-batch at most: 1,000 events. That is five seconds of
    * the reference phase, so there the cap binds only if a batch takes
    * five seconds; the burst it splits into full batches. */
  val MaxFilesPerTrigger = 20
  /** Files written at once after the reference phase: three full batches. */
  val BurstFiles = 60
  /** Backlog may grow by this many seconds of input before the reference
    * rate counts as unsustainable (a trigger plus a batch of saw-tooth). */
  val BacklogToleranceS = 2.0
  val TriggerMs = 500L
  val LateShare = 0.02 // event time 2 h behind: behind the 10-minute watermark
  val OutOfOrderShare = 0.08 // event time up to 2 min behind: within the watermark

  /** The fixture events the generator draws from, one entry per row. */
  case class Pool(users: Array[Long], types: Array[String], cents: Array[Long])

  val Schema = StructType(Seq(
    StructField("event_id", LongType), StructField("created_ms", LongType),
    StructField("t_ms", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("valueCents", LongType)))

  /** Generated events, in file order (shared by the generator thread and
    * the sinks; guarded by `this`). */
  class Gen(val dir: String, seed: Long, pool: Pool) {
    private val rnd = new Random(seed)
    val due = ArrayBuffer.empty[Double] // seconds since t0
    val emitted = ArrayBuffer.empty[Double]
    val types = ArrayBuffer.empty[String]
    val purchases = mutable.Map.empty[Long, ArrayBuffer[Int]] // user -> event indices
    val counted = mutable.Map.empty[Long, Int].withDefaultValue(0)
    var written = 0L
    var files = 0
    var joinRows = 0L // clicks and purchases: the join query's input after the pushed filter
    var lateJoinRows = 0L
    var lateEvents = 0L
    val lag = ArrayBuffer.empty[Double]
    val t0Ns = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    def now: Double = (System.nanoTime() - t0Ns) / 1e9

    /** Write the events due at the given times as one file. */
    def write(dues: Seq[Double], late: Boolean): Unit = {
      val sb = new StringBuilder
      val start = synchronized(due.size)
      dues.zipWithIndex.foreach { case (d, j) =>
        val i = start + j
        val created = t0Ms + (d * 1000).toLong
        val r = rnd.nextDouble()
        val behind = late && r < LateShare
        val t = if (behind) created - 2 * 3600 * 1000L
          else if (r < LateShare + OutOfOrderShare) created - rnd.nextInt(120000) else created
        val k = rnd.nextInt(pool.users.length)
        val (user, tpe) = (pool.users(k), pool.types(k))
        sb.append(i).append(',').append(created).append(',').append(t).append(',')
          .append(user).append(',').append(tpe).append(',').append(pool.cents(k)).append('\n')
        synchronized {
          due += d; emitted += Double.NaN; types += tpe
          if (tpe == "purchase") purchases.getOrElseUpdate(user, ArrayBuffer.empty) += i
          if (tpe == "click" || tpe == "purchase") joinRows += 1
          if (behind) lateEvents += 1
          if (behind && (tpe == "click" || tpe == "purchase")) lateJoinRows += 1
        }
      }
      val tmp = Paths.get(dir, s".tmp-$files")
      Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(dir, f"part-$files%06d.csv"), StandardCopyOption.ATOMIC_MOVE)
      files += 1
      synchronized(written += dues.size)
    }

    /** A totals batch was emitted at `at`: mark every purchase it counts. */
    def emitTotals(rows: Array[UserPurchaseTotal], at: Double): Unit = synchronized {
      rows.foreach { r =>
        val idx = purchases.getOrElse(r.user_id, ArrayBuffer.empty)
        (counted(r.user_id) until math.min(r.n_purch.toInt, idx.size))
          .foreach(k => emitted(idx(k)) = at)
        counted(r.user_id) = math.max(counted(r.user_id), r.n_purch.toInt)
      }
    }
  }

  case class P(spark: SparkSession, dir: String, gen: Gen,
      dedupOut: ArrayBuffer[(Long, String)], totalsOut: mutable.Map[Long, UserPurchaseTotal],
      joinOut: ArrayBuffer[(Long, Long, Long)]) {
    var queries: Seq[StreamingQuery] = Nil
  }

  type Prepared = P

  private def source(spark: SparkSession, dir: String): DataFrame =
    StreamOps.withWm(spark.readStream.schema(Schema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toString).csv(dir)
      .withColumn("t", timestamp_millis(col("t_ms"))))

  private def evRows(df: DataFrame): Dataset[EvRow] = {
    import df.sparkSession.implicits._
    df.select("event_id", "user_id", "event_type", "valueCents", "t").as[EvRow]
  }

  private def processed(q: StreamingQuery): Long =
    q.recentProgress.map(_.numInputRows).sum

  /** Events written but not yet read by query `q`. The join query reads
    * only clicks and purchases (the filter is pushed into the scan), so
    * its backlog is scaled back to events. */
  private def backlog(p: P, q: StreamingQuery): Double = p.gen.synchronized {
    val (w, j) = (p.gen.written.toDouble, p.gen.joinRows.toDouble)
    if (q.name == "join") (j - processed(q)) * (if (j > 0) w / j else 1.0)
    else w - processed(q)
  }

  def setup(spark: SparkSession, ctx: Ctx, dir: String): P = {
    graft.Engine.init(spark)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val src = s"$dir/src"
    Files.createDirectories(Paths.get(src))
    val rows = Files.readAllLines(Paths.get(ctx.pool)).toArray(Array.empty[String]).map(_.split(','))
    val pool = Pool(rows.map(_(0).toLong), rows.map(_(1)), rows.map(_(2).toLong))
    P(spark, dir, new Gen(src, ctx.seed, pool), ArrayBuffer.empty, mutable.Map.empty, ArrayBuffer.empty)
  }

  /** Start the three queries and feed them two priming files, one batch
    * each: the first compiles the plans and sets the watermark that late
    * events fall behind, the second runs them warm. */
  def warmUp(p: P, ctx: Ctx): Unit = {
    val (spark, gen, dir) = (p.spark, p.gen, p.dir)
    val (dedupOut, totalsOut, joinOut) = (p.dedupOut, p.totalsOut, p.joinOut)
    val trig = Trigger.ProcessingTime(TriggerMs)
    val dedupSink: (DataFrame, Long) => Unit = (b, _) => {
      val rows = b.select("user_id", "event_type").collect()
      dedupOut.synchronized(rows.foreach(r => dedupOut += ((r.getLong(0), r.getString(1)))))
    }
    val totalsSink: (Dataset[UserPurchaseTotal], Long) => Unit = (b, _) => {
      val rows = b.collect()
      gen.emitTotals(rows, gen.now)
      totalsOut.synchronized(rows.foreach(r => totalsOut(r.user_id) = r))
    }
    val joinSink: (DataFrame, Long) => Unit = (b, _) => {
      val rows = b.select(col("user_id"), unix_millis(col("t_click")), unix_millis(col("t_purch"))).collect()
      joinOut.synchronized(rows.foreach(r => joinOut += ((r.getLong(0), r.getLong(1), r.getLong(2)))))
    }
    val s = source(spark, s"$dir/src")
    p.queries = Seq(
      StreamOps.dedupStreaming(s).writeStream.queryName("dedup").trigger(trig)
        .option("checkpointLocation", s"$dir/ckpt-dedup").foreachBatch(dedupSink).start(),
      StreamOps.statefulPurchaseTotals(evRows(s)).writeStream.queryName("totals")
        .outputMode("update").trigger(trig)
        .option("checkpointLocation", s"$dir/ckpt-totals").foreachBatch(totalsSink).start(),
      StreamOps.clickToPurchase(s.filter(col("event_type") === "click"),
        s.filter(col("event_type") === "purchase")).writeStream.queryName("join").trigger(trig)
        .option("checkpointLocation", s"$dir/ckpt-join").foreachBatch(joinSink).start())
    Seq(1, 2).foreach { _ =>
      gen.write(Seq.fill(500)(gen.now), late = false)
      require(awaitProcessed(p, 60.0), "the stream did not take the priming files")
    }
  }

  private def awaitProcessed(p: P, timeoutS: Double): Boolean = {
    val until = System.nanoTime() + (timeoutS * 1e9).toLong
    def done = p.queries.forall(q => backlog(p, q) <= 0)
    while (!done && System.nanoTime() < until) {
      p.queries.foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(50)
    }
    done
  }

  def teardown(p: P): Unit = p.queries.foreach { q => q.stop(); q.awaitTermination(30000) }

  def measure(p: P, ctx: Ctx, tracer: Option[Tracer]): Outcome = {
    val gen = p.gen
    val refS = ctx.seconds
    val samples = ArrayBuffer.empty[(Double, Double)] // (time, backlog)
    @volatile var stop = false
    val firstIdx = gen.due.size
    val t0 = gen.now + 0.2
    // backlog sampler: events written minus events the slowest query read
    val sampler = new Thread(() => {
      while (!stop) {
        val worst = p.queries.map(backlog(p, _)).max
        samples.synchronized(samples += ((gen.now, worst)))
        Thread.sleep(100)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    // reference phase, open loop: one file per chunk of events that fell due
    val n = (refS * RefRate).toInt
    var j = 0
    while (j < n) {
      val chunkEnd = math.min(n, j + FileEvents)
      val wait = t0 + (chunkEnd - 1) / RefRate - gen.now
      if (wait > 0) Thread.sleep((wait * 1000).toLong)
      gen.write((j until chunkEnd).map(x => t0 + x / RefRate), late = true)
      gen.lag += gen.now - (t0 + (chunkEnd - 1) / RefRate)
      j = chunkEnd
    }
    val refEnd = gen.due.size
    // the first 30% of the phase is the ramp from an empty backlog
    val refWindow = samples.synchronized(samples.filter(_._1 >= t0 + 0.3 * refS).toList)
    val grows = Stats.backlogGrows(refWindow, RefRate, toleranceS = BacklogToleranceS)
    // burst phase: every query reads the burst in full batches; only the
    // batches after the last one of the reference phase count
    awaitProcessed(p, 30.0)
    val before = p.queries.map(q => q.recentProgress.map(_.batchId).foldLeft(-1L)(math.max))
    val burstT = gen.now
    (0 until BurstFiles).foreach(_ => gen.write(Seq.fill(FileEvents)(burstT), late = true))
    val drained = awaitProcessed(p, 60.0)
    Main.log("burst drained")
    stop = true
    sampler.join()
    val burstBatchS = p.queries.zip(before).map { case (q, b) =>
      q.recentProgress.filter(x => x.batchId > b && x.numInputRows > 0)
        .map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum / 1e3
    }
    val throughput = Stats.drainRate(BurstFiles * FileEvents, burstBatchS)

    // latency of the reference phase's purchases; one never emitted
    // counts as infinitely late
    val ref = gen.synchronized {
      val idx = (firstIdx until refEnd).filter(i => gen.types(i) == "purchase")
      Stats.openLoopLatencies(idx.map(gen.due).toArray,
        idx.map(i => if (gen.emitted(i).isNaN) Double.PositiveInfinity else gen.emitted(i)).toArray).toSeq
    }
    val refTail = math.min(0.99, Stats.highestSupported(ref.size))
    val e2e = Map("latency_p50_s" -> Stats.hdMedian(ref), "throughput_per_s" -> throughput)
    var droppedBad = 0L
    // the layers are read before the check's batch run
    val layers = tracer.map { t =>
      t.drain()
      val prog = t.progress.synchronized(t.progress.toList).map(_.progress)
        .filter(_.numInputRows > 0)
      val common = Layers.common(t, ctx, gen.now - t0, prog.size)
      def meanS(key: String) =
        prog.map(_.durationMs.getOrDefault(key, 0L).toDouble).sum / 1e3 / prog.size
      val phases = Seq("triggerExecution", "latestOffset", "getBatch", "queryPlanning",
        "addBatch", "walCommit", "commitOffsets").map(k => s"stream.${k}_s" -> meanS(k))
      val ops = prog.flatMap(_.stateOperators)
      // dedup drops every event behind the watermark, the join every late
      // click and purchase; the keyed totals (no event-time timeout) none
      val dropped = ops.map(_.numRowsDroppedByWatermark).sum
      val expected = gen.lateEvents + gen.lateJoinRows
      droppedBad = math.abs(dropped - expected)
      val lastState = prog.groupBy(_.id).values.map(_.last).flatMap(_.stateOperators)
      common ++ phases ++ Map(
        "stream.latency_tail_s" -> Stats.percentile(ref, refTail),
        "stream.processed_rows_per_s" -> prog.map(_.processedRowsPerSecond).sum / prog.size,
        "stream.backlog_events" -> refWindow.map(_._2).sum / math.max(1, refWindow.size),
        "state.rows" -> lastState.map(_.numRowsTotal.toDouble).sum,
        "state.memory_bytes" -> lastState.map(_.memoryUsedBytes.toDouble).sum,
        "state.commit_s" -> ops.map(_.commitTimeMs.toDouble).sum / 1e3 / prog.size,
        "stream.rows_dropped_by_watermark" -> dropped.toDouble,
        "gen.lag_s" -> gen.lag.max)
    }.getOrElse(Map.empty)
    val (bad, checks) = check(p, drained)
    Outcome(gen.due.size - firstIdx, bad + droppedBad, e2e, layers,
      Map("reference_rate" -> RefRate, "reference_backlog_grows" -> grows,
        "reference_samples" -> ref.size, "reference_tail_percentile" -> refTail,
        "burst_events" -> BurstFiles * FileEvents, "burst_batch_s" -> burstBatchS,
        "late_events" -> gen.lateEvents, "dropped_bad" -> droppedBad,
        "late_join_rows" -> gen.lateJoinRows, "files" -> gen.files, "checks" -> checks))
  }

  /** The sink outputs against a batch run of the same StreamOps transforms
    * over every generated event; returns (mismatching rows, per-branch detail). */
  private def check(p: P, drained: Boolean): (Long, Map[String, Long]) = {
    val spark = p.spark
    val all = spark.read.schema(Schema).csv(s"${p.dir}/src")
      .withColumn("t", timestamp_millis(col("t_ms")))
    val onTime = all.filter(col("t_ms") >= col("created_ms") - 3600 * 1000L)
    val totals = StreamOps.statefulPurchaseTotals(evRows(all)).collect()
      .map(r => r.user_id -> r).toMap
    val totalsBad = (totals.keySet ++ p.totalsOut.keySet).count(u => totals.get(u) != p.totalsOut.get(u))
    // dedup and the join drop rows behind the watermark; the keyed totals
    // (no event-time timeout) count every purchase
    val dedupWant = StreamOps.dedupStreaming(onTime).select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val dedupGot = p.dedupOut.toList
    val dedupBad = (dedupWant -- dedupGot).size + (dedupGot.size - dedupGot.toSet.size) +
      (dedupGot.toSet -- dedupWant).size
    val joinWant = StreamOps.clickToPurchase(onTime.filter(col("event_type") === "click"),
      onTime.filter(col("event_type") === "purchase"))
      .select(col("user_id"), unix_millis(col("t_click")), unix_millis(col("t_purch"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).groupBy(identity).map { case (k, v) => k -> v.length }
    val joinGot = p.joinOut.toList.groupBy(identity).map { case (k, v) => k -> v.length }
    val joinBad = (joinWant.keySet ++ joinGot.keySet).toSeq
      .map(k => math.abs(joinWant.getOrElse(k, 0) - joinGot.getOrElse(k, 0))).sum
    val undrained = if (drained) 0L else 1L
    val detail = Map("totals_bad" -> totalsBad.toLong, "dedup_bad" -> dedupBad.toLong,
      "join_bad" -> joinBad.toLong, "join_pairs" -> joinGot.values.sum.toLong, "undrained" -> undrained)
    (totalsBad + dedupBad + joinBad + undrained, detail)
  }
}
