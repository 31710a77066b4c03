package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What every workload run is given. `root` is the run's own scratch
  * directory (lake tables, checkpoints, source files, Spark's local dir);
  * `fixtures` holds the read-only parquet inputs and `pool` the events
  * the stream replays, as CSV. */
case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, fixtures: String, pool: String, root: String, spansDir: String)

/** One measured run: end-to-end metrics (untraced) or per-layer metrics
  * (traced), the operation counts, and details for the result file. */
case class Outcome(attempted: Long, failed: Long, endToEnd: Map[String, Double],
    perLayer: Map[String, Double], detail: Map[String, Any])

/** A workload prepares itself on a fresh session, warms up once, and then
  * measures for `ctx.seconds`. Set-up and warm-up together are the timed
  * set-up; checks run outside the timed window and count wrong results as
  * failed operations. */
trait Workload {
  type Prepared
  /** Session-side preparation: engine init, tables, directories. */
  def setup(spark: SparkSession, ctx: Ctx, dir: String): Prepared
  /** The untimed warm-up pass: JIT, codegen and the engine's session memos. */
  def warmUp(p: Prepared, ctx: Ctx): Unit
  def teardown(p: Prepared): Unit
  def measure(p: Prepared, ctx: Ctx, tracer: Option[Tracer]): Outcome
}

object Main {
  /** Set-up runs this many times in every run and its median counts, so
    * one slow session start does not decide the figure. The warm-up runs
    * once, on the last session, and adds to it. */
  val SetupReps = 3

  val workloads: Map[String, Workload] = Map(
    "query_mix" -> QueryMix, "lake_rw" -> LakeRw, "stream_ingest" -> StreamIngest)

  def session(cores: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$root/checkpoints")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM so far, in MiB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private val jvmStart = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%.1f s: $msg")

  /** Set up `reps` times (each on a new session, all but the last torn
    * down again), warm up and measure on the last one. Returns the outcome
    * and the set-up seconds: median set-up plus the warm-up. */
  def runOnce(w: Workload, ctx: Ctx, traced: Boolean, reps: Int = SetupReps): (Outcome, Double) = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var last: Option[(SparkSession, w.Prepared)] = None
    (1 to reps).foreach { rep =>
      val t0 = System.nanoTime()
      val spark = session(ctx.cores, ctx.root)
      val p = w.setup(spark, ctx, s"${ctx.root}/setup$rep")
      setups += (System.nanoTime() - t0) / 1e9
      log(s"set-up $rep done")
      if (rep < reps) { w.teardown(p); spark.stop() }
      else last = Some((spark, p))
    }
    val (spark, p) = last.get
    var tracer: Option[Tracer] = None
    try {
      val t0 = System.nanoTime()
      w.warmUp(p, ctx)
      val warm = (System.nanoTime() - t0) / 1e9
      log("warm-up done")
      if (traced) tracer = Some(new Tracer(spark))
      val o = w.measure(p, ctx, tracer)
      log("measured and checked")
      (o.copy(detail = o.detail ++ Map("setup_reps_s" -> setups.toList, "warm_up_s" -> warm)),
        Stats.median(setups.toSeq) + warm)
    } finally {
      tracer.foreach(_.detach())
      w.teardown(p)
      spark.stop()
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("cores").toInt, a("fixtures"), a("pool"), a("root"), a("spans"))
    val w = workloads.getOrElse(ctx.workload,
      throw new IllegalArgumentException(s"unknown workload ${ctx.workload}"))
    val (o, setupS) = runOnce(w, ctx, ctx.trace)
    val rss = peakRssMb()
    // traced runs add a single-threaded run of the same workload: the
    // baseline the N-core throughput is divided by (its set-up time is not
    // reported, so it sets up once)
    val single = if (!ctx.trace) None
      else Some(runOnce(w, ctx.copy(cores = 1, root = s"${ctx.root}/single"), traced = false,
        reps = 1)._1)
    val metrics = single match {
      case None => o.endToEnd + ("setup_s" -> setupS)
      case Some(one) => o.perLayer + ("jvm.peak_rss_mb" -> rss) + ("scaling_ratio" ->
        o.endToEnd("throughput_per_s") / one.endToEnd("throughput_per_s"))
    }
    val out = Map(
      "attempted" -> (o.attempted + single.map(_.attempted).getOrElse(0L)),
      "failed" -> (o.failed + single.map(_.failed).getOrElse(0L)),
      "metrics" -> metrics,
      "detail" -> (o.detail ++ Map("setup_s" -> setupS, "cores" -> ctx.cores)))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(out))
  }
}
