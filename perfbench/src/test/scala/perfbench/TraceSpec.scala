package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time subtracts the union of the children, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, "query", "q", 0, 100),
      Span(2, 1, "build", "q", 10, 40),
      Span(3, 1, "action", "q", 30, 60), // overlaps its sibling
      Span(4, 1, "job", "j", 90, 120), // runs past its parent
      Span(5, 2, "job", "j", 15, 20))
    val self = Span.selfTimes(spans)
    assert(self(1) == 100 - (50 + 10))
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(4) == 30)
    assert(self(5) == 5)
  }

  test("a workload order keeps each chain's order and depends only on the seed") {
    val w = Workload("w", "input", Seq(Seq("a1", "a2", "a3"), Seq("b1", "b2"), Seq("c")),
      resetStorePerPass = false, last = Seq("z1", "z2"))
    val orders = (1L to 50L).map(w.order)
    orders.foreach { o =>
      assert(o.sorted == w.queries.sorted)
      w.chains.foreach(c => assert(o.filter(c.contains) == c))
      assert(o.takeRight(2) == Seq("z1", "z2"))
    }
    assert(orders.distinct.size > 1)
    assert(w.order(7) == w.order(7))
  }
}
