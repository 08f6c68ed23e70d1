package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int) = Array.tabulate(n)(i => (i + 1).toDouble)

  test("the tail is the highest ladder percentile with at least 10 samples beyond") {
    // 100 samples: p90 leaves 10 beyond, p99 only 1
    assert(Stats.tail(samples(100)) == Stats.Tail(90.0, 90.0, 10, 100))
    // 1000 samples: p99 leaves exactly 10
    assert(Stats.tail(samples(1000)) == Stats.Tail(99.0, 990.0, 10, 1000))
    // 999 samples: p99 leaves 9, so it falls back to p90
    assert(Stats.tail(samples(999)).percentile == 90.0)
    // 20000 samples: p99.9 leaves 20, p99.99 leaves 2
    assert(Stats.tail(samples(20000)).percentile == 99.9)
    assert(Stats.tail(samples(20000)).beyond == 20)
  }

  test("samples of one group count once toward the 10 beyond") {
    // 1000 samples in batches of 50: the top 1% (10 samples) all sit in
    // the slowest batch, so p99 has one group beyond it; p90 (100 samples)
    // spans only 2 batches; the median spans 10
    val xs = samples(1000)
    val batchOf = Array.tabulate(1000)(i => (i / 50).toLong)
    assert(Stats.tail(xs, batchOf).percentile == 50.0)
    // interleaved batches: every batch has samples in the top 1%
    val spread = Array.tabulate(1000)(i => (i % 100).toLong)
    assert(Stats.tail(xs, spread).percentile == 99.0)
  }

  test("45 samples reach p75, which leaves 11 beyond") {
    assert(Stats.tail(samples(45)) == Stats.Tail(75.0, 34.0, 11, 45))
    assert(Stats.tail(samples(39)).percentile == 50.0)
  }

  test("too few samples for any tail report the median") {
    val t = Stats.tail(Array(5.0, 1.0, 3.0))
    assert(t.percentile == 50.0 && t.value == 3.0 && t.samples == 3)
  }

  test("the tail does not depend on sample order") {
    val xs = samples(5000)
    val shuffled = new scala.util.Random(1).shuffle(xs.toSeq).toArray
    assert(Stats.tail(xs) == Stats.tail(shuffled))
  }

  test("nearest-rank percentiles and medians") {
    assert(Stats.percentile(Array(1.0, 2.0, 3.0, 4.0), 50.0) == 2.0)
    assert(Stats.percentile(Array(7.0), 99.9) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("union of intervals counts overlaps once and clips to a window") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Seq((3L, 3L), (9L, 4L))) == 0L)
    assert(Stats.coveredWithin((10L, 20L), Seq((0L, 12L), (18L, 30L))) == 4L)
    assert(Stats.coveredWithin((10L, 20L), Seq((0L, 5L))) == 0L)
  }
}
