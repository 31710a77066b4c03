package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ChangeFeed, ManifestTable}

/** Closed loop, one client: a seed-generated sequence of public
  * ManifestTable and ChangeFeed calls on two fresh tables, about half
  * writes and half reads. `ev` (events, partitioned by day) takes
  * partitioned appends and partition overwrites; `li` (lineitem rows under
  * a synthetic increasing key) takes appends, merges on skewed recent
  * keys, range deletes and compaction. Both take expiry + vacuum.
  *
  * Every read is checked against the benchmark's own model of what was
  * committed: a row count plus an order-independent 64-bit hash per
  * version, and the signed multiset difference for change reads. */
object LakeRw extends Workload {

  case class Li(k: Long, partkey: Long, qty: Long, price_cents: Long, flag: String)
  case class Ev(event_id: Long, user_id: Long, event_type: String, value_cents: Long, day: String)

  val LiCols = Seq("k", "partkey", "qty", "price_cents", "flag")
  val EvCols = Seq("event_id", "user_id", "event_type", "value_cents", "day")
  val KeepVersions = 8
  val Writes = Set("append", "merge", "erase", "purge", "deleteWhere", "overwritePartition",
    "compact", "expireVersions", "vacuum")

  def rowHash(s: String): Long =
    (MurmurHash3.stringHash(s, 1).toLong << 32) ^ (MurmurHash3.stringHash(s, 2) & 0xffffffffL)
  def hashOf(p: Product): Long = rowHash(p.productIterator.mkString("|"))
  def hashOf(r: Row, cols: Seq[String]): Long = rowHash(cols.map(r.getAs[Any]).mkString("|"))

  /** The model of one table: its live rows by key and (count, hash) of
    * every committed version. */
  class Model[R <: Product](val path: String, val cols: Seq[String],
      val keyCol: String, key: R => Long) {
    val live = mutable.LinkedHashMap.empty[Long, R]
    val versions = mutable.Map.empty[Long, (Long, Long)]
    var latest = -1L
    var drained = -1L
    val checkpoint = s"$path.feed"
    def sig: (Long, Long) = (live.size.toLong, live.valuesIterator.map(hashOf).sum)
    def commit(v: Long): Unit = { versions(v) = sig; latest = v }
    def put(rows: Iterable[R]): Unit = rows.foreach(r => live(key(r)) = r)
    def oldest: Long = math.max(versions.keys.min, latest - KeepVersions + 1)
  }

  case class P(spark: SparkSession, dir: String, rnd: Random, ev: Model[Ev], li: Model[Li],
      var evPool: Array[Ev], var liPool: Array[Li], var evNext: Int, var nextKey: Long,
      var liPoolNext: Int, var cycle: Int)
  type Prepared = P

  private def dfOf[R <: Product](spark: SparkSession, rows: Seq[R])(
      implicit tt: scala.reflect.runtime.universe.TypeTag[R]): DataFrame =
    spark.createDataFrame(rows).coalesce(1)

  /** A fresh table directory; tables and pools come in the warm-up. */
  def setup(spark: SparkSession, ctx: Ctx, dir: String): P = {
    graft.Engine.init(spark)
    new File(dir).mkdirs()
    P(spark, dir, new Random(ctx.seed),
      new Model[Ev](s"$dir/ev", EvCols, "event_id", _.event_id),
      new Model[Li](s"$dir/li", LiCols, "k", _.k), Array.empty, Array.empty, 0, 0L, 0, 0)
  }

  /** Read the seeded pools from the fixtures, build both tables from
    * seeded slices (a third of the events, 3k lineitem rows), then run one
    * round, checked like the timed ones: with only one kind-of-each pass
    * before it, the measured round ran half cold. */
  def warmUp(p: P, ctx: Ctx): Unit = {
    p.evPool = graft.Tables.events(p.spark, ctx.fixtures)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"),
        date_format(col("t"), "yyyy-MM-dd").as("day"))
      .orderBy("event_id").collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getString(4)))
    p.liPool = graft.Tables.lineitem(p.spark, ctx.fixtures)
      .select(col("l_partkey"), col("l_quantity").cast("long"),
        round(col("l_extendedprice") * 100).cast("long"), col("l_returnflag"))
      .collect()
      .map(r => Li(0L, r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    p.evNext = p.rnd.nextInt(p.evPool.length / 2)
    p.liPoolNext = p.rnd.nextInt(p.liPool.length / 2)
    val evSlice = nextEvents(p, p.evPool.length / 3)
    p.ev.put(evSlice)
    p.ev.commit(ManifestTable.appendPartitioned(p.spark, p.ev.path, dfOf(p.spark, evSlice), "day"))
    val liSlice = nextLi(p, 3000)
    p.li.put(liSlice)
    p.li.commit(ManifestTable.append(p.spark, p.li.path, dfOf(p.spark, liSlice)))
    Round.foreach { case (k, ev) =>
      require(runOp(p, k, ev, None)._2, s"warm-up $k does not match the model")
    }
  }

  private def nextEvents(p: P, n: Int): Seq[Ev] = (0 until n).map { _ =>
    if (p.evNext >= p.evPool.length) { p.evNext = 0; p.cycle += 1 }
    val e = p.evPool(p.evNext); p.evNext += 1
    e.copy(event_id = e.event_id + p.cycle * 100000000L)
  }

  private def nextLi(p: P, n: Int): Seq[Li] = (0 until n).map { _ =>
    if (p.liPoolNext >= p.liPool.length) p.liPoolNext = 0
    val r = p.liPool(p.liPoolNext); p.liPoolNext += 1
    p.nextKey += 1
    r.copy(k = p.nextKey)
  }

  def teardown(p: P): Unit = ()

  /** One round of the mix: twelve writes and twelve reads, each on a
    * fixed table (true: `ev`, false: `li`), in a fixed order, so every
    * round does the same work (a drain finds the same commits behind it)
    * and a run finishes expiry and vacuum cycles. The erasure's deletion
    * vector is read and drained, then the second merge rewrites it away,
    * so `compact` finds none: placed right after the erasure, its rewrite
    * cost followed the seed's key and the throughput spread over seeds went
    * from 0.05 to 0.25. The seed picks the arguments: rows, keys, ranges,
    * partitions and versions. */
  val Round: Seq[(String, Boolean)] = Seq(
    "append" -> true, "read" -> true, "append" -> false, "merge" -> false,
    "readPruned" -> false, "erase" -> false, "read" -> false, "availableNow" -> false,
    "overwritePartition" -> true, "readPruned" -> true, "readChanges" -> true,
    "merge" -> false, "readOld" -> false, "compact" -> false, "readChanges" -> false,
    "purge" -> false, "readPrunedWide" -> false, "availableNow" -> true,
    "expireVersions" -> true, "expireVersions" -> false, "vacuum" -> true,
    "vacuum" -> false, "readOld" -> true, "latestVersion" -> false)

  /** A key of `li` drawn with recent keys favoured (exponential age). */
  private def recentKey(p: P): Long = {
    val age = (-math.log(1 - p.rnd.nextDouble()) * 1500).toLong
    math.max(p.nextKey - age, p.li.live.keysIterator.min)
  }

  private def checkRows(rows: Array[Row], cols: Seq[String], want: (Long, Long)): Boolean =
    rows.length.toLong == want._1 && rows.iterator.map(hashOf(_, cols)).sum == want._2

  /** Signed (count, hash) of a change feed batch: inserts and post-images
    * add, deletes and pre-images subtract. */
  private def signed(rows: Array[Row], cols: Seq[String]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, h), r) =>
      val s = r.getAs[String]("_change_type") match {
        case "insert" | "update_postimage" => 1L
        case _ => -1L
      }
      (n + s, h + s * hashOf(r, cols))
    }

  private def diff[R <: Product](m: Model[R], from: Long, to: Long): (Long, Long) = {
    val a = m.versions.getOrElse(from, (0L, 0L))
    val b = m.versions(to)
    (b._1 - a._1, b._2 - a._2)
  }

  /** Time one call: the call itself and, for reads, collecting its rows.
    * Inputs are built before it and checks run after it. */
  private def timed[A, B](tracer: Option[Tracer], label: String)(build: => A)(exec: A => B): (B, Double) = {
    val t0 = System.nanoTime()
    val b = tracer match {
      case Some(t) => t.op(label)(build)(exec)
      case None => exec(build)
    }
    (b, (System.nanoTime() - t0) / 1e9)
  }

  /** Run one call; returns (call, result correct, seconds timed). */
  def runOp(p: P, kind: String, useEv: Boolean, tracer: Option[Tracer]): (String, Boolean, Double) = {
    val spark = p.spark
    def timedOp[A, B](label: String)(build: => A)(exec: A => B) = timed(tracer, label)(build)(exec)
    kind match {
      case "append" if useEv =>
        val rows = nextEvents(p, 300)
        val df = dfOf(spark, rows)
        val (v, s) = timedOp("append")(df)(d => ManifestTable.appendPartitioned(spark, p.ev.path, d, "day"))
        p.ev.put(rows); p.ev.commit(v)
        ("append", true, s)
      case "append" =>
        val rows = nextLi(p, 1000)
        val df = dfOf(spark, rows)
        val (v, s) = timedOp("append")(df)(d => ManifestTable.append(spark, p.li.path, d))
        p.li.put(rows); p.li.commit(v)
        ("append", true, s)
      case "merge" =>
        // skewed keys, recent favoured; ~10% brand-new keys
        val upd = (0 until 300).map { _ =>
          if (p.rnd.nextInt(10) == 0) nextLi(p, 1).head
          else {
            val k = recentKey(p)
            p.li.live.get(k).map(r => r.copy(price_cents = r.price_cents + 1 + p.rnd.nextInt(100)))
              .getOrElse(nextLi(p, 1).head)
          }
        }.groupBy(_.k).map(_._2.last).toSeq
        val df = dfOf(spark, upd)
        val (v, s) = timedOp("merge")(df)(d => ManifestTable.merge(spark, p.li.path, d, "k"))
        p.li.put(upd); p.li.commit(v)
        ("merge", true, s)
      case "erase" | "purge" =>
        val (lo, hi) =
          if (kind == "erase") { val k = recentKey(p); (k - 10, k + 10) } // near a recent key
          else { val lo = p.li.live.keysIterator.min; (lo, lo + 1000) } // the oldest keys
        val (v, s) = timedOp("deleteWhere")(())(_ => ManifestTable.deleteWhere(spark, p.li.path, "k", lo, hi))
        p.li.live.filterInPlace { case (k, _) => k < lo || k > hi }
        if (v != p.li.latest) p.li.commit(v)
        ("deleteWhere", true, s)
      case "overwritePartition" =>
        val days = p.ev.live.valuesIterator.map(_.day).toSeq.distinct.sorted
        val day = days(p.rnd.nextInt(days.size))
        val rows = p.ev.live.valuesIterator.filter(_.day == day)
          .map(r => r.copy(value_cents = r.value_cents + 1)).toSeq
        val df = dfOf(spark, rows)
        val (v, s) = timedOp("overwritePartition")(df)(d =>
          ManifestTable.overwritePartition(spark, p.ev.path, day, d))
        p.ev.put(rows); p.ev.commit(v)
        ("overwritePartition", true, s)
      case "compact" =>
        val (v, s) = timedOp("compact")(())(_ => ManifestTable.compact(spark, p.li.path))
        if (v != p.li.latest) p.li.commit(v)
        ("compact", true, s)
      case "expireVersions" =>
        val m = if (useEv) p.ev else p.li
        // a feed must not fall behind retention: drain it first
        val fed = m.drained >= m.latest - KeepVersions + 1 || drain(p, m, None)._1
        val (_, s) = timedOp("expireVersions")(())(_ => ManifestTable.expireVersions(m.path, KeepVersions))
        m.versions.keys.filter(_ < m.latest - KeepVersions + 1).foreach(m.versions.remove)
        ("expireVersions", fed, s)
      case "vacuum" =>
        val m = if (useEv) p.ev else p.li
        val (_, s) = timedOp("vacuum")(())(_ => ManifestTable.vacuum(m.path, 0L))
        ("vacuum", true, s)
      case "read" | "readOld" =>
        val m = if (useEv) p.ev else p.li
        val v = if (kind == "read") m.latest
          else m.oldest + p.rnd.nextInt((m.latest - m.oldest + 1).toInt)
        val (rows, s) = timedOp("read")(ManifestTable.read(spark, m.path,
          if (kind == "read") None else Some(v)))(_.collect())
        ("read", checkRows(rows, m.cols, m.versions(v)), s)
      case "readPruned" | "readPrunedWide" =>
        val m: Model[_ <: Product] = if (useEv) p.ev else p.li
        val (kmin, kmax) = (m.live.keys.min, m.live.keys.max)
        val width = if (kind == "readPruned") 50L else math.max(50L, (kmax - kmin) / 3)
        val lo = kmin + (p.rnd.nextDouble() * math.max(1L, kmax - kmin - width)).toLong
        val hi = lo + width
        val ((rows, df), s) = timedOp("readPruned")(
          ManifestTable.readPruned(spark, m.path, m.keyCol, lo, hi))(df => (df.collect(), df))
        // files opened / files in the snapshot, outside the timing
        val snap = ManifestTable.snapshotFiles(m.path, m.latest).map(f => new File(f).getName).toSet
        prune += df.inputFiles.count(f => snap.contains(new File(new java.net.URI(f).getPath).getName))
          .toDouble / math.max(1, snap.size)
        val want = m.live.iterator.filter { case (k, _) => k >= lo && k <= hi }.map(_._2).toSeq
        ("readPruned", checkRows(rows, m.cols, (want.size.toLong, want.map(hashOf).sum)), s)
      case "readChanges" =>
        val m = if (useEv) p.ev else p.li
        // two commits, anywhere in retained history
        val from = math.max(m.oldest, m.latest - 2 - p.rnd.nextInt(math.max(1L, m.latest - m.oldest - 1).toInt))
        val to = math.min(m.latest, from + 2)
        val (rows, s) = timedOp("readChanges")(ManifestTable.readChanges(spark, m.path, from, to))(_.collect())
        ("readChanges", signed(rows, m.cols) == diff(m, from, to), s)
      case "availableNow" =>
        val m = if (useEv) p.ev else p.li
        val (ok, s) = drain(p, m, tracer)
        ("availableNow", ok, s)
      case "latestVersion" =>
        val m = if (useEv) p.ev else p.li
        val (v, s) = timedOp("latestVersion")(())(_ => ManifestTable.latestVersion(m.path))
        ("latestVersion", v.contains(m.latest), s)
    }
  }

  private val prune = ArrayBuffer.empty[Double]

  /** Drain the table's change feed and check the delivered batches sum
    * to the model's difference since the previous drain. */
  private def drain[R <: Product](p: P, m: Model[R], tracer: Option[Tracer]): (Boolean, Double) = {
    var got = (0L, 0L)
    val (_, s) = timed(tracer, "availableNow")(())(_ =>
      ChangeFeed.availableNow(p.spark, m.path, m.checkpoint) { (df, _, _) =>
        val b = signed(df.collect(), m.cols)
        got = (got._1 + b._1, got._2 + b._2)
      })
    val ok = got == diff(m, m.drained, m.latest)
    m.drained = m.latest
    (ok, s)
  }

  private def dirFiles(path: String): Map[String, Long] = {
    val d = new File(s"$path/data")
    Option(d.listFiles()).map(_.map(f => f.getName -> f.length()).toMap).getOrElse(Map.empty)
  }

  def measure(p: P, ctx: Ctx, tracer: Option[Tracer]): Outcome = {
    prune.clear()
    val lat = ArrayBuffer.empty[(String, Double)]
    var failed = 0L
    var attempted = 0L
    val seen = mutable.Map(p.ev.path -> dirFiles(p.ev.path), p.li.path -> dirFiles(p.li.path))
    var written = 0L
    var untimedNs = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0 - untimedNs) / 1e9
    def call(kind: String, ev: Boolean): Unit = {
      attempted += 1
      val started = System.nanoTime()
      try {
        val (label, ok, s) = runOp(p, kind, ev, tracer)
        lat += label -> s
        // input building and the model check are not the system's time
        untimedNs += (System.nanoTime() - started) - (s * 1e9).toLong
        if (!ok) { failed += 1; System.err.println(s"[lake_rw] $label result does not match the model") }
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[lake_rw] $kind failed: $e")
      }
      // filesystem bookkeeping for write amplification, outside the timing
      val u = System.nanoTime()
      if (Writes(kind)) Seq(p.ev.path, p.li.path).foreach { path =>
        val now = dirFiles(path)
        written += now.collect { case (f, n) if !seen(path).contains(f) => n }.sum
        seen(path) = now
      }
      untimedNs += System.nanoTime() - u
    }
    // whole rounds only, so every run does the same mix of calls; another
    // round starts only if a whole one fits in the time left, which keeps
    // the switch from one round to two far from a round's length here
    var roundS = 0.0
    while (elapsed + roundS <= ctx.seconds) {
      val roundStart = elapsed
      Round.foreach { case (kind, ev) => call(kind, ev) }
      roundS = elapsed - roundStart
    }
    val wall = elapsed
    val all = lat.map(_._2).toSeq
    val e2e = Map("latency_p50_s" -> Stats.hdMedian(all), "throughput_per_s" -> all.size / wall)
    val layers = tracer.map { t =>
      val common = Layers.common(t, ctx, wall, all.size)
      val perCall = lat.groupBy(_._1).map { case (k, xs) =>
        val layer = if (k == "availableNow") "ChangeFeed" else "ManifestTable"
        s"$layer.${k}_s" -> xs.map(_._2).sum / xs.size
      }
      def split(write: Boolean) = lat.filter(x => Writes(x._1) == write).map(_._2).toSeq
      val tables = Seq(p.ev, p.li)
      val liveFiles = tables.flatMap(m => ManifestTable.snapshotFiles(m.path, m.latest))
      def size(f: String) = new File(f).length() + new File(s"$f.stats").length()
      val liveBytes = liveFiles.map(size).sum.toDouble
      val diskBytes = tables.map(m => dirFiles(m.path).values.sum).sum.toDouble
      common ++ perCall ++ Map(
        "lake.write_p50_s" -> Stats.hdMedian(split(true)),
        "lake.read_p50_s" -> Stats.hdMedian(split(false)),
        "lake.jobs_per_op" -> t.jobs.get.toDouble / all.size,
        "lake.prune_ratio" -> (if (prune.isEmpty) 1.0 else prune.sum / prune.size),
        "lake.write_amp" -> written / liveBytes,
        "lake.space_amp" -> diskBytes / liveBytes,
        "lake.files_live" -> liveFiles.size.toDouble)
    }.getOrElse(Map.empty)
    Outcome(attempted, failed, e2e, layers,
      Map("samples" -> all.size, "wall_s" -> wall,
        "ops" -> lat.groupBy(_._1).map { case (k, xs) => k -> xs.size },
        "calls_s" -> lat.map { case (k, s) => f"$k=$s%.3f" }.mkString(" "),
        "rows" -> Map("ev" -> p.ev.live.size, "li" -> p.li.live.size)))
  }
}
