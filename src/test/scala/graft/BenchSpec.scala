package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.measure]]: a query that throws gets no timing, so it can
  * neither look fast nor enter the totals. */
class BenchSpec extends AnyFunSuite {

  test("a query that runs keeps the min of its timed samples") {
    val samples = Iterator((3.0, 2.0, 1.5), (2.0, 2.5, 1.0))
    val r = Bench.measure("q_ok", runs = 2)(())(samples.next())
    assert(r.contains((2.0, 2.0, 1.0, Seq(3.0, 2.0))))
  }

  test("a query that throws in its warm-up or any timed run is failed") {
    var timed = 0
    assert(Bench.measure("q_warm", runs = 2)(sys.error("boom")) {
      timed += 1; (1.0, 1.0, 1.0)
    }.isEmpty)
    assert(timed == 0, "a failed warm-up runs no timed sample")
    var n = 0
    assert(Bench.measure("q_timed", runs = 3)(()) {
      n += 1
      if (n == 2) throw new IllegalStateException("boom")
      (0.01, 0.01, 0.01)
    }.isEmpty)
    assert(n == 2, "no sample runs after the failing one")
  }
}
