package perfbench

import org.apache.commons.math3.special.Beta

/** The benchmark's own arithmetic: percentiles, the median estimate, the
  * backlog-growth test, open-loop latency and span self time. Pure
  * functions, unit-tested in StatsSuite. */
object Stats {

  /** A percentile is reported only when at least `MinBeyond` samples lie
    * above it, so one outlier cannot be the whole tail. */
  val MinBeyond = 10

  def supports(n: Int, p: Double): Boolean =
    n - math.ceil(p * n - 1e-9).toInt >= MinBeyond

  /** The highest percentile `n` samples support (p90 needs 100 samples). */
  def highestSupported(n: Int): Double = {
    require(n >= 2 * MinBeyond, s"$n samples support no percentile")
    1.0 - MinBeyond.toDouble / n
  }

  /** Nearest-rank percentile; refuses a percentile the sample cannot support. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(supports(xs.size, p),
      s"p${p * 100} needs $MinBeyond samples beyond it; have ${xs.size} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size - 1e-9).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    require(n > 0, "median of nothing")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Harrell–Davis estimate of the median: a weighted mean of all order
    * statistics, the i-th of n weighted by the Beta((n+1)/2, (n+1)/2)
    * probability of ((i-1)/n, i/n]. The plain median of a few dozen
    * latencies that fall in clusters jumps across the gap between two
    * clusters when one call moves; this estimate moves in proportion. */
  def hdMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    require(n > 0, "median of nothing")
    val a = (n + 1) / 2.0
    val cdf = (0 to n).map(i => Beta.regularizedBeta(i.toDouble / n, a, a))
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
  }

  /** True when the backlog (events generated but not yet processed),
    * sampled at times `t` seconds over a phase at one rate, grows by more than
    * `toleranceS` seconds' worth of input at `rate` events/s: when its
    * lowest point in the second half of the samples lies that far above
    * its lowest point in the first half. A micro-batch engine's backlog
    * saw-tooths up to a batch's worth of input even when it keeps up, and
    * a line fitted to a few teeth follows their phase; the troughs of a
    * job that keeps up stay level, while a rate above capacity lifts them. */
  def backlogGrows(samples: Seq[(Double, Double)], rate: Double,
      toleranceS: Double): Boolean = {
    if (samples.size < 3) return false
    val (first, second) = samples.splitAt(samples.size / 2)
    second.map(_._2).min - first.map(_._2).min > rate * toleranceS
  }

  /** Events per second a job drains while busy: `events`, which every
    * query reads, over the summed batch time of its slowest query. Idle
    * time between triggers is not in it, so with batches of a fixed size
    * the rate does not depend on how many batches the input fills. */
  def drainRate(events: Long, busyS: Seq[Double]): Double = {
    require(busyS.nonEmpty && busyS.forall(_ > 0), "every query must have run a batch")
    events / busyS.max
  }

  /** Open-loop latency: each event is timed from when it was DUE under the
    * generator's schedule, not from when the generator got round to
    * writing it, so a stall also delays every event queued behind it. */
  def openLoopLatencies(dueS: Array[Double], emittedS: Array[Double]): Array[Double] = {
    require(dueS.length == emittedS.length, "one emission per due event")
    dueS.indices.map(i => emittedS(i) - dueS(i)).toArray
  }

  /** One timed interval of a traced operation. Spans of one operation
    * share `op`; `parent` is the span that caused this one. */
  case class Span(id: Long, parent: Long, op: Long, layer: String,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def coveredNs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover (overlapping children are counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - coveredNs(iv, s.startNs, s.endNs))
    }.toMap
  }

  /** Self time summed per layer. */
  def layerSelfNs(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}
