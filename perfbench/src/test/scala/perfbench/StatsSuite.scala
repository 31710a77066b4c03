package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.Span

class StatsSuite extends AnyFunSuite {

  test("a percentile needs at least ten samples beyond it") {
    assert(Stats.supports(100, 0.9))
    assert(!Stats.supports(99, 0.9))
    assert(Stats.supports(1000, 0.99))
    assert(!Stats.supports(999, 0.99))
    assert(!Stats.supports(19, 0.5))
    assert(Stats.supports(20, 0.5))
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(intercept[IllegalArgumentException](Stats.percentile(xs.tail, 0.9))
      .getMessage.contains("10 samples beyond"))
  }

  test("the highest supported percentile leaves exactly ten samples beyond it") {
    for (n <- Seq(20, 21, 37, 100, 450, 1000)) {
      val p = Stats.highestSupported(n)
      assert(Stats.supports(n, p), s"n=$n p=$p")
      assert(!Stats.supports(n, p + 1.0 / n), s"n=$n: p=$p is not the highest")
    }
    assert(Stats.highestSupported(100) == 0.9)
    intercept[IllegalArgumentException](Stats.highestSupported(19))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("Harrell-Davis median: exact on symmetric samples, smooth across a gap") {
    assert(math.abs(Stats.hdMedian(Seq(5.0, 1.0, 3.0, 2.0, 4.0)) - 3.0) < 1e-12)
    assert(Stats.hdMedian(Seq(0.7)) == 0.7)
    assert(math.abs(Stats.hdMedian(Seq.fill(7)(0.25)) - 0.25) < 1e-12)
    // Beta(3, 3) weights of five order statistics: 0.05792, 0.25952, 0.36512, ...
    assert(math.abs(Stats.hdMedian(Seq(16.0, 1.0, 8.0, 2.0, 4.0)) - 5.04032) < 1e-9)
    // two clusters: one sample moving across the gap moves the plain median
    // from one cluster to the other, the estimate by a sixth of the gap
    val high = Seq.fill(10)(0.1) ++ Seq.fill(11)(0.5)
    val low = Seq.fill(11)(0.1) ++ Seq.fill(10)(0.5)
    assert(Stats.median(high) - Stats.median(low) == 0.4)
    val moved = Stats.hdMedian(high) - Stats.hdMedian(low)
    assert(moved > 0.06 && moved < 0.08, s"moved $moved")
  }

  test("backlog growth: a saw-tooth that keeps up is not growth, a ramp is") {
    val rate = 500.0
    // one trigger's worth of input arrives, then is read: bounded saw-tooth
    val sawTooth = (0 until 60).map { i => (i * 0.1, (i % 10) * 0.1 * rate) }
    assert(!Stats.backlogGrows(sawTooth, rate, toleranceS = 1.0))
    // input at 500/s, read at 300/s: grows by 200 events a second
    val ramp = (0 until 60).map { i => (i * 0.1, i * 0.1 * 200.0) }
    assert(Stats.backlogGrows(ramp, rate, toleranceS = 1.0))
    // a saw-tooth whose window ends on a peak, where a fitted line would
    // rise by 190 events: its troughs stay level
    val endsHigh = (0 until 19).map { i => (i * 0.1, (i % 10) * 0.1 * rate) }
    assert(!Stats.backlogGrows(endsHigh, rate, toleranceS = 0.3))
    // the same ramp over a short window stays inside the tolerance
    assert(!Stats.backlogGrows(ramp.take(20), rate, toleranceS = 1.0))
    assert(!Stats.backlogGrows(ramp.take(2), rate, toleranceS = 0.0))
  }

  test("drain rate: the slowest query's busy time, independent of the burst size") {
    // batches of 1,000 events cost 0.4 s fixed plus 0.6 ms per event
    def busy(batches: Int, perEventMs: Double) = batches * (0.4 + 1000 * perEventMs / 1000)
    val small = Stats.drainRate(5000, Seq(busy(5, 0.6), busy(5, 0.2)))
    val large = Stats.drainRate(20000, Seq(busy(20, 0.6), busy(20, 0.2)))
    assert(math.abs(small - 1000.0) < 1e-9 && math.abs(large - small) < 1e-9)
    intercept[IllegalArgumentException](Stats.drainRate(5000, Seq(1.0, 0.0)))
  }

  test("open-loop latency runs from the due time, so a stall delays the events queued behind it") {
    // events due every 10 ms; the generator stalls 500 ms before the third
    val due = Array(0.00, 0.01, 0.02, 0.03)
    val written = Array(0.00, 0.01, 0.52, 0.52)
    val emitted = written.map(_ + 0.1)
    val lat = Stats.openLoopLatencies(due, emitted)
    assert(lat.map(x => math.round(x * 1000)).toSeq == Seq(100, 100, 600, 590))
    // timed from when each was written instead, the stall would vanish
    assert(Stats.openLoopLatencies(written, emitted).forall(x => math.abs(x - 0.1) < 1e-9))
  }

  test("self time subtracts the union of child spans, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, 1, "client.query", 0, 100),
      Span(2, 1, 1, "ops.build", 0, 40),
      Span(3, 1, 1, "exec", 40, 100),
      Span(4, 2, 1, "spark.job", 10, 30),
      Span(5, 3, 1, "spark.job", 50, 70),
      Span(6, 3, 1, "spark.job", 60, 80), // overlaps the previous job
      Span(7, 3, 1, "catalyst.plan", 90, 120)) // runs past its parent
    val self = Stats.selfTimes(spans)
    assert(self(1) == 0)
    assert(self(2) == 20)
    assert(self(3) == 60 - 30 - 10)
    assert(self(4) == 20 && self(5) == 20 && self(6) == 20 && self(7) == 30)
    val layers = Stats.layerSelfNs(spans)
    assert(layers("spark.job") == 60)
    assert(layers("ops.build") == 20)
    assert(Stats.coveredNs(Seq((0L, 5L), (3L, 9L), (20L, 30L)), 2, 25) == 12)
  }
}
