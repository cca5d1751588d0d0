package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.warmSpread`: the pass spread BENCH_FULL.json reports. */
class BenchSpec extends AnyFunSuite {

  test("warm spread leaves out the cold first pass") {
    assert(Bench.warmSpread(Seq(0.87, 0.20, 0.23)) === 0.23 - 0.20)
    assert(Bench.warmSpread(Seq(4.15, 1.83, 1.29)) === 1.83 - 1.29)
  }

  test("warm spread is -1 when a warm pass failed or there is none") {
    assert(Bench.warmSpread(Seq(0.5, -1.0, 0.4)) === -1.0)
    assert(Bench.warmSpread(Seq(-1.0, 0.3, 0.4)) === 0.4 - 0.3)
    assert(Bench.warmSpread(Seq(0.5)) === -1.0)
  }
}
