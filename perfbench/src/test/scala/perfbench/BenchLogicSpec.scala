package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: tail selection, seeded generation and the
  * output checks. No Spark session is needed. */
class BenchLogicSpec extends AnyFunSuite {

  test("no tail below 20 ops; otherwise the highest ladder percentile with 10 ops beyond it") {
    assert(Summary.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Summary.tail((1 to 20).map(_.toDouble)).contains((50.0, 10.0)))
    assert(Summary.tail((1 to 39).map(_.toDouble)).map(_._1).contains(50.0))
    assert(Summary.tail((1 to 40).map(_.toDouble)).contains((75.0, 30.0)))
    assert(Summary.tail((1 to 100).map(_.toDouble)).contains((90.0, 90.0)))
    assert(Summary.tail((1 to 1000).map(_.toDouble)).contains((99.0, 990.0)))
    // order of the samples does not matter
    assert(Summary.tail((1 to 100).reverse.map(_.toDouble)).contains((90.0, 90.0)))
  }

  test("median of even and odd counts") {
    assert(Summary.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Summary.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("the same seed gives identical inputs, another seed different ones") {
    def inputs(seed: Long) = (
      (0 until 8).map(i => Gen.sweepSpec(seed, i, 20000)),
      Gen.corpus(seed, 200, 0.05),
      Gen.delta(seed, 3, 1000, 50, 0.2, Gen.corpus(seed, 200, 0.05)),
      Gen.events(seed, 100).map(e => (e.ts, e.user_id, e.value)),
      Gen.lineitem(seed, 100),
      Gen.embeddings(seed, 20).map(e => e.embedding.toSeq))
    assert(inputs(7) == inputs(7))
    val (a, b) = (inputs(7), inputs(8))
    assert(a._1 != b._1 && a._2 != b._2 && a._3 != b._3 && a._4 != b._4 && a._5 != b._5 && a._6 != b._6)
  }

  test("every sweep cycle holds each (axis count, reduction) once, near the requested size") {
    val specs = (0 until 3 * Gen.SweepCycle).map(i => Gen.sweepSpec(3, i, 20000))
    assert(specs.forall(s => s.points > 10000 && s.points < 40000))
    specs.grouped(Gen.SweepCycle).foreach { cycle =>
      assert(cycle.map(s => (s.axes.size, s.reduction)).toSet.size == Gen.SweepCycle)
      assert(cycle.filter(_.blackBox).map(_.reduction).sorted == Gen.Reductions)
      assert(cycle.filter(_.cases.nonEmpty).map(_.reduction).sorted == Gen.Reductions)
    }
  }

  test("the sweep check accepts the reference and rejects a planted wrong answer") {
    val specs = (0 until Gen.SweepCycle).map(Gen.sweepSpec(5, _, 2000))
    specs.foreach { spec =>
      val right = Sweep.reference(spec)
      assert(Sweep.check(spec, right).isEmpty)
      assert(Sweep.check(spec, right.copy(mean = right.mean * 1.001)).nonEmpty)
      assert(Sweep.check(spec, right.copy(n = right.n + 1)).nonEmpty)
    }
    val band = specs.find(_.reduction == "band").get
    val b = Sweep.reference(band)
    assert(Sweep.check(band, b.copy(hi = b.hi + 0.5)).nonEmpty)
    val hist = specs.find(_.reduction == "histogram").get
    val h = Sweep.reference(hist)
    val (bin, n) = h.hist.head
    assert(Sweep.check(hist, h.copy(hist = h.hist.updated(bin, n + 1))).nonEmpty)
  }

  test("the harvest check rejects a round that grew the wrong points or stored wrong values") {
    val end = 10L
    val means = Harvest.reference(end)
    val right = Harvest.Round(end, 512, 512, means, means, Harvest.nullPoints(end))
    assert(Harvest.check(right).isEmpty)
    assert(Harvest.check(right.copy(grown = 513)).nonEmpty)
    val (y, m) = means.head
    assert(Harvest.check(right.copy(bstoreMeans = means.updated(y, m + 0.25))).nonEmpty)
    assert(Harvest.check(right.copy(missing = right.missing.drop(1))).nonEmpty)
  }

  test("the refresh check rejects released artifacts holding taken-down or flagged ids") {
    val r = Refresh.Release(1, null, survivors = Set(10L, 11L, 12L), contained = Set(12L),
      down = Set(10L), buckets = Set(11L, 13L), langs = Set(11L, 13L))
    assert(Refresh.check(r, tombstoned = Set(10L), flagged = Set(12L)).isEmpty)
    assert(Refresh.check(r.copy(buckets = Set(10L, 11L, 13L), langs = Set(10L, 11L, 13L)),
      Set(10L), Set(12L)).nonEmpty)
    assert(Refresh.check(r.copy(buckets = Set(11L, 12L, 13L), langs = Set(11L, 12L, 13L)),
      Set(10L), Set(12L)).nonEmpty)
    assert(Refresh.check(r.copy(langs = Set(11L)), Set(10L), Set(12L)).nonEmpty)
  }
}
