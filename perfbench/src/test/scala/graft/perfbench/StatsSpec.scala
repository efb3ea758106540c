package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
  }

  test("a tail percentile is reported only with at least ten samples beyond it") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.highestSupported(13).isEmpty) // one pass of the query mix
    assert(Stats.highestSupported(99).isEmpty) // 9 samples beyond p90
    assert(Stats.highestSupported(100).contains(90.0))
    assert(Stats.highestSupported(199).contains(90.0)) // 9 beyond p95
    assert(Stats.highestSupported(200).contains(95.0))
    assert(Stats.highestSupported(1000).contains(99.0))
    assert(Stats.highestSupported(10000).contains(99.9))
  }
}

class ErrorTallySpec extends AnyFunSuite {
  test("failed operations count against attempted ones") {
    val t = new ErrorTally
    assert(RunResult(t.attempted, t.failed, Map.empty).errorRate == 0.0)
    Seq(true, true, false, true).foreach(t.record)
    assert((t.attempted, t.failed) == (4, 1))
    val r = RunResult(t.attempted, t.failed, Map.empty)
    assert(r.errorRate == 0.25 && !r.correct)
  }
}
